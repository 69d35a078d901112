"""Domain-reputation shrinkage (operators/domain_reputation.py):
hand-computed posterior rates, the pull-to-mean property the raw rate
gets wrong, partitioning invariance, and the
--domain-reputation-min-rate job stage.  Spark/DuckDB value parity is
covered by the `domain_reputation` oracle in test_oracle_parity."""

from pyspark.sql import functions as F

from harvesttext_spark.operators.domain_reputation import (
    apply_domain_reputation,
    domain_reputation,
)


def _fixture(spark):
    # big.example: 8/10 kept; tiny.example: 2/2 kept; bad.example: 0/4
    rows = (
        [("big.example", i < 8) for i in range(10)]
        + [("tiny.example", True), ("tiny.example", True)]
        + [("bad.example", False)] * 4
    )
    return spark.createDataFrame(rows, "domain string, keep boolean"), rows


def test_hand_computed_rates(spark):
    df, rows = _fixture(spark)
    n, k = len(rows), sum(1 for _, kk in rows if kk)
    p = k / n  # 10/16
    got = {r["domain"]: r.asDict() for r in domain_reputation(df).collect()}
    assert got["big.example"]["n_pages"] == 10
    assert got["big.example"]["raw_rate"] == 0.8
    assert got["big.example"]["shrunk_rate"] == round((8 + 20 * p) / 30, 6)
    assert got["tiny.example"]["raw_rate"] == 1.0
    assert got["tiny.example"]["shrunk_rate"] == round((2 + 20 * p) / 22, 6)
    assert got["bad.example"]["shrunk_rate"] == round((0 + 20 * p) / 24, 6)


def test_pull_to_mean_beats_raw_ranking(spark):
    """The 2/2 domain's raw rate (1.0) outranks the 8/10 domain's (0.8);
    the posterior correctly ranks the evidence-backed domain higher and
    pins the no-evidence domain near the global mean."""
    df, rows = _fixture(spark)
    p = sum(1 for _, kk in rows if kk) / len(rows)
    got = {r["domain"]: r["shrunk_rate"] for r in domain_reputation(df).collect()}
    assert got["tiny.example"] < got["big.example"]
    assert abs(got["tiny.example"] - p) < abs(1.0 - p) / 2


def test_prior_strength_limits(spark):
    """kappa -> 0 recovers the raw rate; huge kappa collapses every
    domain onto the global mean."""
    df, rows = _fixture(spark)
    p = sum(1 for _, kk in rows if kk) / len(rows)
    raw = {r["domain"]: r["shrunk_rate"]
           for r in domain_reputation(df, prior_strength=1e-9).collect()}
    assert raw["tiny.example"] == 1.0 and raw["big.example"] == 0.8
    flat = {r["domain"]: r["shrunk_rate"]
            for r in domain_reputation(df, prior_strength=1e9).collect()}
    assert all(abs(v - round(p, 6)) <= 1e-6 for v in flat.values())


def test_partitioning_invariance(spark):
    df, _ = _fixture(spark)
    a = sorted(map(str, domain_reputation(df).collect()))
    b = sorted(map(str, domain_reputation(df.repartition(7)).collect()))
    assert a == b


def test_apply_join_back(spark):
    df, _ = _fixture(spark)
    # with p = 10/16 and kappa = 20, the 4-page bad domain's posterior is
    # (0 + 12.5)/24 = 0.520833 — the prior correctly dominates 4 pages of
    # evidence, so the drop threshold must sit above it to fire
    out = apply_domain_reputation(df, min_rate=0.55)
    assert out.count() == df.count()
    flags = {(r["domain"], r["domain_reputation_keep"]) for r in out.collect()}
    assert ("bad.example", False) in flags
    assert ("big.example", True) in flags
    assert ("tiny.example", True) in flags


def test_domain_reputation_job_stage(spark):
    """--domain-reputation-min-rate wiring: the spam domain's two
    individually-kept pages drop as domain_reputation; the good domain's
    pages keep; already-dropped rows keep their reason."""
    from harvesttext_spark.pipeline.stages import apply_domain_reputation_filter

    rows = (
        [(f"https://spam.example/p{i}", True, None) for i in range(2)]
        + [(f"https://spam.example/d{i}", False, "too_short") for i in range(18)]
        + [(f"https://good.example/p{i}", True, None) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "url string, keep boolean, drop_reason string")
    got = {r["url"]: r.asDict()
           for r in apply_domain_reputation_filter(df, min_rate=0.5).collect()}
    # global p = 22/40; spam shrunk = (2 + 20p)/40 = 0.325; good = 0.775
    assert got["https://spam.example/p0"]["drop_reason"] == "domain_reputation"
    assert got["https://spam.example/p1"]["drop_reason"] == "domain_reputation"
    assert got["https://spam.example/d0"]["drop_reason"] == "too_short"
    assert got["https://good.example/p0"]["keep"] is True
    assert abs(got["https://good.example/p0"]["domain_shrunk_rate"] - 0.775) < 1e-6
