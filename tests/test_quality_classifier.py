"""Supervised quality classifier (operators/quality_classifier.py):
row-for-row pure-python NB reference, degenerate-class guard, bare-prior
path, separation on the real corpus, broadcast plan shape, and the
--quality-classifier-min-prob job stage.  Spark/DuckDB train+score value
parity is covered by the `quality_classifier` oracle in
test_oracle_parity."""

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from harvesttext_spark.operators.quality_classifier import (
    score_quality,
    train_quality_classifier,
)

_WS = "[ \t\n\x0b\f\r]+"


def _py_buckets(text, n_buckets, max_words=200):
    ws = [w for w in re.split(_WS, text.lower()) if w != ""][:max_words]
    gs = list(ws) + [f"{a}_{b}" for a, b in zip(ws, ws[1:])]
    return [
        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) % n_buckets
        for g in gs
    ]


def _py_model(rows, n_buckets, max_words=200):
    cp, cn = {}, {}
    n_pos = n_neg = 0
    for lab, text in rows:
        if lab:
            n_pos += 1
        else:
            n_neg += 1
        for b in _py_buckets(text, n_buckets, max_words):
            (cp if lab else cn)[b] = (cp if lab else cn).get(b, 0) + 1
    tp, tn = sum(cp.values()), sum(cn.values())
    buckets = set(cp) | set(cn)
    llr = {
        b: math.log((cp.get(b, 0) + 1) / (tp + n_buckets))
        - math.log((cn.get(b, 0) + 1) / (tn + n_buckets))
        for b in buckets
    }
    prior = math.log(n_pos / n_neg)
    default = math.log((tn + n_buckets) / (tp + n_buckets))
    return llr, prior, default


def _py_score(text, llr, prior, default, n_buckets, max_words=200):
    s = prior
    for b in _py_buckets(text, n_buckets, max_words):
        s += llr.get(b, default)
    return s


FIXTURE = [
    (True, "the quick brown fox jumps over the lazy dog today"),
    (True, "a well formed english sentence with common words here"),
    (True, "the cat sat on the mat and the dog barked"),
    (True, "english prose tends to use the and of and to"),
    (False, "el gato la mesa los perros de que y en un"),
    (False, "la casa el rio los montes de que y una cosa"),
    (False, "un dia la noche el sol de la luna y"),
]


def test_weights_and_scores_match_python_reference(spark):
    """Exact weight + score agreement with the closed form at a tiny
    bucket count (64 forces hash collisions, exercising the shared-
    bucket path)."""
    B = 64
    df = spark.createDataFrame(FIXTURE, "label boolean, text string")
    weights, params = train_quality_classifier(df, n_buckets=B)
    llr, prior, default = _py_model(FIXTURE, B)
    got = {r["bucket"]: r["llr"] for r in weights.collect()}
    assert set(got) == set(llr)
    for b in llr:
        assert abs(got[b] - llr[b]) < 1e-9, b
    assert abs(params["prior"] - prior) < 1e-12
    assert abs(params["default_llr"] - default) < 1e-12

    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(FIXTURE)] + [(99, "unseen words zzz qqq")],
        "doc_id bigint, text string",
    )
    scored = {r["doc_id"]: r["quality_lodds"] for r in
              score_quality(docs, weights, params).collect()}
    for i, (_, t) in enumerate(FIXTURE):
        assert abs(scored[i] - round(_py_score(t, llr, prior, default, B), 4)) <= 1e-4
    assert abs(
        scored[99] - round(_py_score("unseen words zzz qqq", llr, prior, default, B), 4)
    ) <= 1e-4


def test_single_class_raises(spark):
    df = spark.createDataFrame(
        [(True, "only positives here"), (True, "still positive")],
        "label boolean, text string",
    )
    with pytest.raises(ValueError, match="both classes"):
        train_quality_classifier(df)


def test_empty_and_null_text_score_bare_prior(spark):
    df = spark.createDataFrame(FIXTURE, "label boolean, text string")
    weights, params = train_quality_classifier(df, n_buckets=64)
    docs = spark.createDataFrame(
        [(1, ""), (2, None)], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r for r in score_quality(docs, weights, params).collect()}
    expect = round(params["prior"], 4)
    assert out[1]["quality_lodds"] == expect
    assert out[2]["quality_lodds"] == expect
    sig = round(1.0 / (1.0 + math.exp(-params["prior"])), 6)
    assert out[1]["quality_prob"] == sig


def test_separation_on_planted_corpus(spark):
    """On a corpus whose label actually correlates with the text (the
    sf* documents table's lang column does NOT — its word soup is the
    same vocabulary for every lang), the distilled model must recover
    the label for nearly every doc, including held-out index variants."""
    en = "the quick brown fox jumps over the lazy dog and the cat"
    es = "el rapido zorro marron salta sobre el perro y el gato"
    rows = [(True, f"{en} page number {i} of the corpus") for i in range(100)] + [
        (False, f"{es} pagina numero {i} del corpus") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "label boolean, text string")
    weights, params = train_quality_classifier(df)
    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(rows)], "doc_id bigint, text string"
    )
    scored = score_quality(docs, weights, params)
    labels = spark.createDataFrame(
        [(i, lab) for i, (lab, _) in enumerate(rows)], "doc_id bigint, label boolean"
    )
    joined = scored.join(labels, "doc_id")
    agree = joined.filter(
        ((F.col("quality_lodds") >= 0) & F.col("label"))
        | ((F.col("quality_lodds") < 0) & ~F.col("label"))
    ).count()
    assert agree / len(rows) >= 0.99, agree


def test_score_join_is_broadcast(spark):
    """The weights side is bounded at n_buckets rows — the score join
    must be a BroadcastHashJoin, never a sort-merge exchange of the
    corpus feature stream."""
    df = spark.createDataFrame(FIXTURE, "label boolean, text string")
    weights, params = train_quality_classifier(df, n_buckets=64)
    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(FIXTURE)], "doc_id bigint, text string"
    )
    plan = score_quality(docs, weights, params)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_quality_classifier_job_stage(spark):
    """--quality-classifier-min-prob wiring: the distilled model drops
    kept pages that look like the dropped population; already-dropped
    rows keep their reason; quality_prob lands on every row."""
    from harvesttext_spark.pipeline.stages import apply_quality_classifier

    kept_text = "a well formed english sentence with common words here"
    drop_text = "el gato la mesa los perros de que y en un"
    rows = (
        [(f"https://k{i}.example/", kept_text + f" variant {i}", True, None)
         for i in range(8)]
        + [(f"https://d{i}.example/", drop_text + f" numero {i}", False, "too_short")
           for i in range(8)]
        # survivor that LOOKS dropped: every rule passed but the
        # distilled model should flag it
        + [("https://mole.example/", drop_text + " distinto", True, None)]
    )
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    got = {r["url"]: r.asDict()
           for r in apply_quality_classifier(df, min_prob=0.5).collect()}
    assert got["https://mole.example/"]["drop_reason"] == "quality_classifier"
    for i in range(8):
        assert got[f"https://k{i}.example/"]["keep"] is True
        assert got[f"https://d{i}.example/"]["drop_reason"] == "too_short"
    assert all("quality_prob" in r for r in got.values())


def test_calibration_curve_hand_computed(spark):
    rows = [
        (0.05, False), (0.08, True),          # bin 0: mean .065, obs .5
        (0.95, True), (0.99, True), (1.0, True),  # bin 9 (1.0 clamps in)
        (0.55, False),                         # bin 5
    ]
    df = spark.createDataFrame(rows, "quality_prob double, label boolean")
    from harvesttext_spark.operators.quality_classifier import (
        calibration_curve,
    )

    got = {r["bin"]: r.asDict() for r in calibration_curve(df).collect()}
    assert set(got) == {0, 5, 9}
    assert got[0]["n"] == 2 and got[0]["mean_prob"] == 0.065
    assert got[0]["observed_rate"] == 0.5 and got[0]["abs_gap"] == 0.435
    assert got[9]["n"] == 3 and got[9]["observed_rate"] == 1.0
    assert got[5]["n"] == 1 and got[5]["observed_rate"] == 0.0


def test_calibration_sql_parity(spark):
    """Contract-grade value compare for the rows-only queries() entry
    (driver prefix full — this pytest IS the value gate): the DuckDB
    side composes the full classifier oracle SQL with the binning
    mirror."""
    import math
    import os

    import duckdb

    import __spark_entry__ as entrymod
    from harvesttext_spark.operators.quality_classifier import (
        calibration_curve_sql,
    )

    sf = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
    sdf = entrymod.q_classifier_calibration(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    inner = (
        "WITH lab AS (SELECT doc_id, (lang = 'en') AS label FROM documents "
        "UNION ALL SELECT doc_id, label FROM (VALUES "
        "(4000003::BIGINT, true), (4000004::BIGINT, false)) t(doc_id, label)) "
        f"SELECT q.quality_prob, lab.label FROM ({entrymod._sql_quality_classifier()}) q "
        "JOIN lab USING (doc_id)"
    )
    ddf = con.execute(calibration_curve_sql(inner)).df()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert len(sdf) == len(ddf) and len(sdf) > 1

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


# --- isotonic recalibration (round 8) --------------------------------------


def _py_isotonic(pairs):
    """Reference weighted PAV (Zadrozny & Elkan 2002): float-rate
    blocks, pooled while decreasing — the textbook formulation, vs the
    engine's integer cross-multiplication variant."""
    blocks = [[n, pos / n, 1] for n, pos in pairs]  # weight, rate, span
    i = 0
    out = list(blocks)
    merged = True
    while merged:
        merged = False
        i = 0
        while i < len(out) - 1:
            if out[i][1] >= out[i + 1][1]:
                w = out[i][0] + out[i + 1][0]
                r = (out[i][0] * out[i][1] + out[i + 1][0] * out[i + 1][1]) / w
                out[i] = [w, r, out[i][2] + out[i + 1][2]]
                del out[i + 1]
                merged = True
            else:
                i += 1
    rates = []
    for w, r, span in out:
        rates.extend([r] * span)
    return rates


def test_pav_matches_textbook_reference():
    from harvesttext_spark.operators.quality_classifier import _pav

    cases = [
        [(10, 1), (10, 5), (10, 3), (10, 9)],  # one violation
        [(5, 5), (5, 0), (5, 5), (5, 0)],      # alternating extremes
        [(7, 1), (3, 1), (9, 4), (2, 2), (4, 4)],
        [(1, 0), (1, 1)],
        [(100, 50)],
    ]
    for pairs in cases:
        got = _pav(pairs)
        ref = _py_isotonic(pairs)
        assert len(got) == len(ref) == len(pairs)
        for g, r in zip(got, ref):
            assert abs(g - r) < 1e-12, (pairs, got, ref)
        # monotone non-decreasing by construction
        assert all(a <= b + 1e-12 for a, b in zip(got, got[1:]))


def _scored_corpus(spark, n=400):
    """Deterministic (lodds, label) rows where P(label) rises with
    lodds but the raw sigmoid is badly miscalibrated (the NB shape)."""
    rows = []
    for i in range(n):
        h = int(hashlib.md5(f"cal:{i}".encode()).hexdigest()[:8], 16)
        lodds = (h % 2000) / 25.0 - 40.0  # spread over [-40, 40)
        # true rate rises in 4 coarse steps: 5% / 30% / 70% / 95%
        step = int((lodds + 40.0) // 20.0)
        rate = [0.05, 0.30, 0.70, 0.95][min(step, 3)]
        label = (int(hashlib.md5(f"lab:{i}".encode()).hexdigest()[:8], 16)
                 % 1000) < rate * 1000
        rows.append((i, round(lodds, 4), bool(label)))
    return spark.createDataFrame(rows, "doc_id long, quality_lodds double, label boolean")


def test_isotonic_calibrator_monotone_deterministic_and_filled(spark):
    from harvesttext_spark.operators.quality_classifier import (
        train_isotonic_calibrator,
    )

    scored = _scored_corpus(spark)
    cal = sorted(
        train_isotonic_calibrator(scored).collect(), key=lambda r: r["bin"]
    )
    # every bin ordinal present (gap filling), rates monotone
    assert [r["bin"] for r in cal] == list(range(64))
    rates = [r["cal_prob"] for r in cal]
    assert all(a <= b + 1e-12 for a, b in zip(rates, rates[1:]))
    # deterministic under repartitioning (integer PAV, fixed-width bins)
    cal2 = sorted(
        train_isotonic_calibrator(scored.repartition(13)).collect(),
        key=lambda r: r["bin"],
    )
    assert [tuple(r) for r in cal] == [tuple(r) for r in cal2]
    # the fit actually tracks the planted step function
    assert rates[0] < 0.2 and rates[-1] > 0.8


def test_apply_calibration_improves_ece(spark):
    """The point of the stage: expected calibration error of the
    calibrated probability must beat the raw sigmoid's on a corpus
    where the NB magnitudes are wrong."""
    from harvesttext_spark.operators.quality_classifier import (
        apply_calibration,
        calibration_curve,
        train_isotonic_calibrator,
    )

    scored = _scored_corpus(spark).withColumn(
        "quality_prob",
        F.round(1.0 / (1.0 + F.exp(-F.col("quality_lodds"))), 6),
    )
    cal = train_isotonic_calibrator(scored)
    out = apply_calibration(scored, cal)
    assert "quality_prob_cal" in out.columns

    def ece(df, prob_col):
        curve = calibration_curve(df, prob_col=prob_col)
        n_tot = df.count()
        return sum(r["n"] / n_tot * r["abs_gap"] for r in curve.collect())

    raw = ece(out, "quality_prob")
    calibrated = ece(out, "quality_prob_cal")
    assert calibrated < raw * 0.5, (raw, calibrated)
    # calibrated probs respect the lodds ORDER (isotonic invariant)
    rows = sorted(out.collect(), key=lambda r: r["quality_lodds"])
    probs = [r["quality_prob_cal"] for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(probs, probs[1:]))


def test_quality_classifier_job_stage_calibrated(spark):
    """--quality-classifier-calibrate wiring: quality_prob_cal lands,
    the threshold applies to the calibrated column, and with cascade
    labels the calibrated probability of kept-looking pages is high
    (near the observed keep rate) rather than the raw NB extreme."""
    from harvesttext_spark.pipeline.stages import apply_quality_classifier

    good = "a thoughtful essay about spark engines and careful data work number"
    bad = "buy cheap buy cheap buy cheap casino bonus click now win big"
    rows = []
    for i in range(30):
        rows.append((f"https://g{i:02d}.example/", f"{good} {i}", True, None))
        rows.append((f"https://b{i:02d}.example/", f"{bad} {i}", False, "toxic"))
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    out = apply_quality_classifier(df, min_prob=0.5, calibrate=True)
    assert "quality_prob_cal" in out.columns
    got = {r["url"]: r.asDict() for r in out.collect()}
    # kept pages' calibrated prob ~ observed rate in their bin (high),
    # so they survive the 0.5 threshold; dropped rows keep their reason
    assert all(got[f"https://g{i:02d}.example/"]["keep"] for i in range(30))
    assert all(
        got[f"https://b{i:02d}.example/"]["drop_reason"] == "toxic"
        for i in range(30)
    )
    assert all(
        got[f"https://g{i:02d}.example/"]["quality_prob_cal"] >= 0.5
        for i in range(30)
    )


def test_threshold_for_keep_rate_budget_semantics(spark):
    """Largest whole-bin keep-rate not exceeding the target; monotone
    in the target; deterministic under repartitioning; edges keep
    all / none."""
    from harvesttext_spark.operators.quality_classifier import (
        threshold_for_keep_rate,
    )

    scored = _scored_corpus(spark)  # 400 rows spread over [-40, 40)
    n = scored.count()
    prev_keep = -1
    for target in (0.0, 0.1, 0.25, 0.5, 0.9, 1.0):
        sel = threshold_for_keep_rate(scored, target)
        assert sel["n"] == n
        assert sel["keep_n"] <= target * n + 1e-9
        assert sel["keep_n"] >= prev_keep  # monotone in target
        prev_keep = sel["keep_n"]
    assert threshold_for_keep_rate(scored, 1.0)["keep_n"] == n
    assert threshold_for_keep_rate(scored, 0.0)["keep_n"] == 0
    # determinism under partitioning
    a = threshold_for_keep_rate(scored, 0.3)
    b = threshold_for_keep_rate(scored.repartition(17), 0.3)
    assert a == b
    # maximality: adding back the bin just below the cut exceeds budget
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.quality_classifier import _lodds_bin

    sel = threshold_for_keep_rate(scored, 0.3)
    bins = dict(
        (r["bin"], r["count"])
        for r in scored.select(
            _lodds_bin(F.col("quality_lodds"), 64, -40.0, 40.0).alias("bin")
        )
        .groupBy("bin")
        .count()
        .collect()
    )
    below = max((b for b in bins if b < sel["bin_cut"]), default=None)
    if below is not None:
        assert sel["keep_n"] + bins[below] > 0.3 * n


def test_quality_classifier_job_stage_keep_frac(spark):
    """--quality-classifier-keep-frac wiring: exactly the budgeted
    top fraction of KEPT pages survives (whole-bin granularity), the
    drop reason is quality_classifier, and dropped rows keep theirs."""
    from harvesttext_spark.pipeline.stages import apply_quality_classifier

    good = "a thoughtful essay about spark engines and careful data work number"
    bad = "buy cheap buy cheap buy cheap casino bonus click now win big"
    rows = []
    for i in range(40):
        rows.append((f"https://g{i:02d}.example/", f"{good} {i}", True, None))
        # half the corpus is cascade-dropped spam (trains the NB)
        rows.append((f"https://b{i:02d}.example/", f"{bad} {i}", False, "toxic"))
    # and 40 kept-but-spammy pages the classifier should rank lowest
    for i in range(40):
        rows.append((f"https://s{i:02d}.example/", f"{bad} kept {i}", True, None))
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    out = apply_quality_classifier(df, None, keep_frac=0.5)
    got = {r["url"]: r.asDict() for r in out.collect()}
    kept = [u for u, r in got.items() if r["keep"]]
    # 80 kept in, budget 0.5 -> at most 40 survive, and they are the
    # good pages (spammy kept pages rank in the bottom bins)
    assert len(kept) <= 40
    assert all(u.startswith("https://g") for u in kept)
    assert got["https://s00.example/"]["drop_reason"] == "quality_classifier"
    assert got["https://b00.example/"]["drop_reason"] == "toxic"
