"""Static mixture sampling (operators/mixture.py): exact-composition
arithmetic, determinism/dup-id safety, validation, the contract-grade
Spark-vs-DuckDB value compare, and the --mixture job stage."""

import duckdb
import pytest
from pyspark.sql import functions as F

from harvesttext_spark.operators.mixture import (
    sample_to_mixture,
    sample_to_mixture_sql,
)


def _counts(df, keep_col="mix_keep", group_col="lang"):
    return {
        r[group_col]: r["n"]
        for r in df.filter(F.col(keep_col))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_binding_group_keeps_everything_and_composition_holds(spark):
    # en:ar = 3:1 in the data; target 50/50 -> ar binds (keeps all),
    # en keeps ~1/3
    rows = [(f"u{i}", "en") for i in range(3000)] + [
        (f"v{i}", "ar") for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "url string, lang string")
    out = sample_to_mixture(df, {"en": 0.5, "ar": 0.5}, id_col="url").cache()
    kept = _counts(out)
    assert kept["ar"] == 1000  # binding group: rate exactly 1
    assert abs(kept["en"] - 1000) < 120  # hash-rule binomial wobble
    ppm = {r["lang"]: r["mix_ppm"] for r in out.select("lang", "mix_ppm").distinct().collect()}
    assert ppm["ar"] == 1_000_000
    assert abs(ppm["en"] - 333_333) <= 1


def test_budget_frac_scales_and_unlisted_groups_drop(spark):
    rows = (
        [(f"u{i}", "en") for i in range(1000)]
        + [(f"v{i}", "ar") for i in range(1000)]
        + [(f"w{i}", "xx") for i in range(100)]
        + [(None, "en")]
    )
    df = spark.createDataFrame(rows, "url string, lang string")
    out = sample_to_mixture(
        df, {"en": 0.5, "ar": 0.5}, id_col="url", budget_frac=0.5
    ).cache()
    ppm = {r["lang"]: r["mix_ppm"] for r in out.select("lang", "mix_ppm").distinct().collect()}
    assert ppm["en"] == 500_000 and ppm["ar"] == 500_000
    assert ppm["xx"] == 0
    assert out.filter(F.col("lang") == "xx").filter("mix_keep").count() == 0
    assert out.filter(F.col("url").isNull()).filter("mix_keep").count() == 0


def test_deterministic_and_dup_id_consistent(spark):
    rows = [(f"u{i % 50}", "en") for i in range(200)] + [
        (f"v{i}", "ar") for i in range(100)
    ]
    df1 = spark.createDataFrame(rows, "url string, lang string").coalesce(1)
    df2 = spark.createDataFrame(rows, "url string, lang string").repartition(7)
    spec = {"en": 0.3, "ar": 0.7}
    a = sorted(
        (r["url"], r["mix_keep"])
        for r in sample_to_mixture(df1, spec, id_col="url").collect()
    )
    b = sorted(
        (r["url"], r["mix_keep"])
        for r in sample_to_mixture(df2, spec, id_col="url").collect()
    )
    assert a == b
    # duplicate ids never straddle the decision
    dec = {}
    for u, k in a:
        assert dec.setdefault(u, k) == k, u


def test_validation(spark):
    df = spark.createDataFrame([("u", "en")], "url string, lang string")
    with pytest.raises(ValueError, match="sum to 1"):
        sample_to_mixture(df, {"en": 0.5})
    with pytest.raises(ValueError, match="positive"):
        sample_to_mixture(df, {"en": 1.5, "ar": -0.5})
    with pytest.raises(ValueError, match="budget_frac"):
        sample_to_mixture(df, {"en": 1.0}, budget_frac=0.0)


def test_mixture_sql_parity(spark):
    """Contract-grade value compare for the rows-only queries() entry
    (driver prefix full — this pytest IS the value gate)."""
    import math
    import os

    import __spark_entry__ as entrymod

    sf = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
    sdf = entrymod.q_mixture_sample(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    sql = sample_to_mixture_sql(
        "SELECT doc_id, lang FROM documents",
        entrymod.MIXTURE_TARGET,
        group_col="lang",
        id_col="doc_id",
    )
    ddf = con.execute(sql).df()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert len(sdf) == len(ddf) and len(sdf) > 0

    def norm(df):
        out = []
        for row in df.to_dict("records"):
            vals = []
            for c in sorted(df.columns):
                v = row[c]
                if isinstance(v, float):
                    v = "nan" if math.isnan(v) else round(v, 6)
                    v = 0.0 if v == 0 else v
                vals.append(str(v))
            out.append("|".join(vals))
        return sorted(out)

    assert norm(sdf) == norm(ddf)


def test_mixture_job_stage(spark, tmp_path):
    """--mixture-spec wiring: kept rows outside the sampled mixture drop
    as drop_reason=mixture; already-dropped rows keep their reason."""
    import json

    from harvesttext_spark.pipeline.stages import apply_mixture

    spec_path = tmp_path / "mix.json"
    spec_path.write_text(
        json.dumps({"group_by": "lang_pred", "fractions": {"en": 0.5, "ar": 0.5}})
    )
    rows = (
        [(f"https://e{i}.x/", "en", True, None) for i in range(300)]
        + [(f"https://a{i}.x/", "ar", True, None) for i in range(100)]
        + [("https://dead.x/", "en", False, "too_short")]
    )
    df = spark.createDataFrame(
        rows, "url string, lang_pred string, keep boolean, drop_reason string"
    )
    out = apply_mixture(df, json.loads(spec_path.read_text())).cache()
    got = {r["url"]: r.asDict() for r in out.collect()}
    assert got["https://dead.x/"]["drop_reason"] == "too_short"
    kept = [r for r in got.values() if r["keep"]]
    ar = sum(1 for r in kept if r["lang_pred"] == "ar")
    en = sum(1 for r in kept if r["lang_pred"] == "en")
    assert ar == 100  # binding group keeps all
    assert abs(en - 100) < 40
    assert any(
        r["drop_reason"] == "mixture"
        for r in got.values()
        if r["lang_pred"] == "en"
    )


def test_max_repeat_upsamples_scarce_group(spark):
    """max_repeat > 1 (the GPT-3/Pile epoch-repeat recipe): a scarce
    high-weight group repeats up to the cap while the abundant group
    down-samples; expected copies hit the exact quota."""
    rows = [(f"u{i}", "common") for i in range(3000)] + [
        (f"v{i}", "rare") for i in range(300)
    ]
    df = spark.createDataFrame(rows, "url string, lang string")
    out = sample_to_mixture(
        df, {"common": 0.5, "rare": 0.5}, id_col="url", max_repeat=3
    ).cache()
    ppm = {
        r["lang"]: r["mix_ppm"]
        for r in out.select("lang", "mix_ppm").distinct().collect()
    }
    # T = min(3000*3/.5, 300*3/.5) = 1800 -> rare copies 3.0 (cap),
    # common copies 0.3
    assert ppm["rare"] == 3_000_000 and ppm["common"] == 300_000
    copies = {
        r["lang"]: r["tot"]
        for r in out.groupBy("lang").agg(
            F.sum("mix_copies").alias("tot")
        ).collect()
    }
    assert copies["rare"] == 900  # every rare row repeats exactly 3x
    assert abs(copies["common"] - 900) < 120  # binomial wobble
    assert out.filter("lang = 'rare' and not mix_keep").count() == 0
