"""FineWeb-Edu-style scored distillation (operators/edu_scorer.py):
row-for-row pure-python target-encoding reference, global-mean paths,
empty-corpus guard, separation + graded ints on a planted corpus, and
threshold semantics.  Spark/DuckDB train+score value parity is covered
by the `edu_score` oracle in test_oracle_parity."""

import hashlib
import math
import re

import pytest

from harvesttext_spark.operators.edu_scorer import (
    _PPM,
    score_edu,
    train_edu_scorer,
)

_WS = "[ \t\n\x0b\f\r]+"


def _py_buckets(text, n_buckets, max_words=200):
    ws = [w for w in re.split(_WS, text.lower()) if w != ""][:max_words]
    gs = list(ws) + [f"{a}_{b}" for a, b in zip(ws, ws[1:])]
    return [
        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) % n_buckets
        for g in gs
    ]


def _py_model(rows, n_buckets, smoothing, max_words=200):
    sums, cnts = {}, {}
    for teacher, text in rows:
        ppm = round(teacher * _PPM)
        for b in _py_buckets(text, n_buckets, max_words):
            sums[b] = sums.get(b, 0) + ppm
            cnts[b] = cnts.get(b, 0) + 1
    mu = sum(sums.values()) / sum(cnts.values())
    bs = {
        b: (sums[b] + smoothing * mu) / (cnts[b] + smoothing) for b in sums
    }
    return bs, mu


def _py_score(text, bs, mu, n_buckets, max_words=200):
    bl = _py_buckets(text, n_buckets, max_words)
    if not bl:
        return round(mu / _PPM, 4)
    return round(sum(bs.get(b, mu) for b in bl) / len(bl) / _PPM, 4)


FIXTURE = [
    (5.0, "the quick brown fox jumps over the lazy dog today"),
    (4.5, "a well formed english sentence with common words here"),
    (3.0, "the cat sat on the mat and the dog barked"),
    (1.0, "el gato la mesa los perros de que y en un"),
    (0.0, "la casa el rio los montes de que y una cosa"),
]


def test_bucket_scores_and_doc_scores_match_python_reference(spark):
    """Exact agreement with the closed form at a tiny bucket count (64
    forces hash collisions, exercising the shared-bucket path) and a
    small smoothing so planted buckets actually move off the mean."""
    B, M = 64, 2.0
    df = spark.createDataFrame(FIXTURE, "teacher double, text string")
    scores, params = train_edu_scorer(df, n_buckets=B, smoothing=M)
    bs, mu = _py_model(FIXTURE, B, M)
    got = {r["bucket"]: r["bscore"] for r in scores.collect()}
    assert set(got) == set(bs)
    for b in bs:
        assert abs(got[b] - bs[b]) < 1e-9, b
    assert abs(params["mu_ppm"] - mu) < 1e-9

    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(FIXTURE)]
        + [(99, "unseen words zzz qqq")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in score_edu(docs, scores, params).collect()}
    for i, (_, t) in enumerate(FIXTURE):
        assert abs(out[i]["edu_score"] - _py_score(t, bs, mu, B)) <= 1e-4, i
    assert (
        abs(out[99]["edu_score"] - _py_score("unseen words zzz qqq", bs, mu, B))
        <= 1e-4
    )
    # edu_int derives from the rounded score via half-up
    for r in out.values():
        assert r["edu_int"] == max(0, min(5, math.floor(r["edu_score"] + 0.5)))


def test_empty_and_null_text_score_global_mean(spark):
    df = spark.createDataFrame(FIXTURE, "teacher double, text string")
    scores, params = train_edu_scorer(df, n_buckets=64, smoothing=2.0)
    docs = spark.createDataFrame([(1, ""), (2, None)], "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in score_edu(docs, scores, params).collect()}
    expect = round(params["mu_ppm"] / _PPM, 4)
    assert out[1]["edu_score"] == expect
    assert out[2]["edu_score"] == expect


def test_empty_corpus_raises(spark):
    df = spark.createDataFrame(
        [(5.0, ""), (1.0, None)], "teacher double, text string"
    )
    with pytest.raises(ValueError, match="non-empty"):
        train_edu_scorer(df)


def test_separation_and_graded_ints_on_planted_corpus(spark):
    """Distinct-vocabulary classes with teachers 5 / 0 must recover a
    high grade for target-class pages and a low grade for the rest,
    with the default min_score=3 keep splitting them exactly."""
    hi = "photosynthesis theorem lemma proof corollary axiom derivation"
    lo = "jackpot lottery casino winner prize bonus spins"
    rows = [(5.0, f"{hi} page {i} of notes") for i in range(60)] + [
        (0.0, f"{lo} page {i} of spam") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "teacher double, text string")
    scores, params = train_edu_scorer(df, smoothing=5.0)
    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(rows)], "doc_id bigint, text string"
    )
    out = score_edu(docs, scores, params).collect()
    for r in out:
        expect_keep = r["doc_id"] < 60
        assert r["edu_keep"] == expect_keep, r
        assert (r["edu_int"] >= 4) == expect_keep, r


def test_min_score_threshold(spark):
    df = spark.createDataFrame(FIXTURE, "teacher double, text string")
    scores, params = train_edu_scorer(df, n_buckets=64, smoothing=2.0)
    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(FIXTURE)], "doc_id bigint, text string"
    )
    strict = {
        r["doc_id"]: r["edu_keep"]
        for r in score_edu(docs, scores, params, min_score=5).collect()
    }
    lax = {
        r["doc_id"]: r["edu_keep"]
        for r in score_edu(docs, scores, params, min_score=0).collect()
    }
    assert all(lax.values())
    assert sum(strict.values()) < len(strict)


def test_edu_job_stage(spark, tmp_path):
    """--edu-min-score wiring: the student trained on the external
    teacher parquet drops kept pages graded below the threshold;
    already-dropped rows keep their reason; edu_score lands on every
    row; blank pages score the mean (kept here since mean >= 3)."""
    from jobs.run_quality_filter import apply_edu_filter

    hi = "photosynthesis theorem lemma proof corollary axiom derivation"
    lo = "jackpot lottery casino winner prize bonus spins"
    teacher = spark.createDataFrame(
        [(5.0, f"{hi} page {i}") for i in range(40)]
        + [(0.0, f"{lo} page {i}") for i in range(40)],
        "teacher double, text string",
    )
    tpath = str(tmp_path / "teacher.parquet")
    teacher.write.parquet(tpath)

    rows = [
        ("https://edu.example/", f"{hi} lecture notes", True, None),
        ("https://spam.example/", f"{lo} click now", True, None),
        ("https://gone.example/", f"{lo} already dropped", False, "too_short"),
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    got = {
        r["url"]: r.asDict()
        for r in apply_edu_filter(df, tpath, min_score=3).collect()
    }
    assert got["https://edu.example/"]["keep"] is True
    assert got["https://spam.example/"]["drop_reason"] == "edu_score"
    assert got["https://gone.example/"]["drop_reason"] == "too_short"
    assert all("edu_score" in r for r in got.values())


def test_edu_stage_composes_with_resume_flagset(tmp_path):
    """--edu-min-score must be accepted alongside --resume by the
    argument validation (fixed external model -> bucket-idempotent):
    the corpus-relative table parse_args refuses under --resume does not
    list it."""
    from jobs.run_quality_filter import CORPUS_RELATIVE, parse_args

    teacher = tmp_path / "teacher"
    teacher.mkdir()
    args = parse_args(
        ["--output", str(tmp_path / "out"), "--resume",
         "--edu-min-score", "3", "--edu-teacher-path", str(teacher)]
    )
    assert args.resume and args.edu_min_score == 3
    assert "--edu-min-score" not in CORPUS_RELATIVE
