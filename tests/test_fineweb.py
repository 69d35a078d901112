"""FineWeb line-ratio battery (functions/fineweb.py): rule-isolation
goldens with hand-computed ratios, trim/NULL modes, the 0.12 punct
boundary, and the job stage wiring.  Spark/DuckDB value parity is
covered by the `fineweb_signals` oracle in test_oracle_parity."""

from pyspark.sql import functions as F

from harvesttext_spark.functions.fineweb import fineweb_filter


def _run(spark, text, **kw):
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    return fineweb_filter(df, **kw).collect()[0].asDict()


LONG_PUNCT = [
    "This is a good long sentence that ends with a period.",
    "Another properly terminated long line follows right here.",
    "A third distinct long line carries enough characters too.",
    "The fourth long line also terminates with punctuation.",
]


def test_keep_page(spark):
    r = _run(spark, "\n".join(LONG_PUNCT))
    assert r["n_lines"] == 4
    assert r["frac_lines_end_punct"] == 1.0
    assert r["frac_lines_short"] == 0.0
    assert r["frac_chars_dup_lines"] == 0.0
    assert r["fineweb_keep"] is True


def test_punct_rule_drops(spark):
    r = _run(spark, "\n".join(ln.rstrip(".") for ln in LONG_PUNCT))
    assert r["frac_lines_end_punct"] == 0.0
    assert r["fineweb_keep"] is False


def test_short_rule_drops(spark):
    # 3/4 lines under 30 chars (all punct-terminated, so the short rule
    # is the decider): 0.75 >= 0.67
    r = _run(spark, "Tiny line.\nAnother tiny.\nStill tiny.\n" + LONG_PUNCT[0])
    assert r["frac_lines_end_punct"] == 1.0
    assert r["frac_lines_short"] == 0.75
    assert r["fineweb_keep"] is False


def test_dup_rule_exact_fraction(spark):
    dup = "This exact navigation line repeats twice in the page."
    other = LONG_PUNCT[0]
    r = _run(spark, "\n".join([dup, dup, other]))
    total = 2 * len(dup) + len(other)
    expect = round(len(dup) / total, 6)
    assert r["frac_chars_dup_lines"] == expect
    # and a heavy-dup page drops
    r2 = _run(spark, "\n".join([dup, dup, dup, other]))
    assert r2["fineweb_keep"] is False


def test_trim_and_blank_line_semantics(spark):
    # trailing spaces are trimmed before the punct test; whitespace-only
    # lines don't count as lines at all
    r = _run(
        spark,
        LONG_PUNCT[0] + "   \n   \n" + LONG_PUNCT[1],
    )
    assert r["n_lines"] == 2
    assert r["frac_lines_end_punct"] == 1.0


def test_punct_boundary_is_strict(spark):
    # 1/8 = 0.125 > 0.12 keeps; 1/9 = 0.111 <= 0.12 drops
    filler = [
        f"line number {i} stretches well past thirty characters unpunctuated"
        for i in range(7)
    ]
    keep_page = "\n".join([LONG_PUNCT[0]] + filler)
    drop_page = "\n".join([LONG_PUNCT[0]] + filler + [
        "one more long unpunctuated line tips the ratio under the bar"
    ])
    assert _run(spark, keep_page)["fineweb_keep"] is True
    assert _run(spark, drop_page)["fineweb_keep"] is False


def test_null_and_empty(spark):
    for text in (None, "", "\n\n  \n"):
        r = _run(spark, text)
        assert r["n_lines"] == 0
        assert r["frac_lines_end_punct"] == 0.0
        assert r["frac_chars_dup_lines"] == 0.0
        assert r["fineweb_keep"] is False


def test_fineweb_job_stage(spark):
    """--fineweb-filter wiring: first failing rule names the drop reason
    (punct -> short -> dup order); already-dropped rows are untouched;
    ratios land as stage-metric columns."""
    from harvesttext_spark.pipeline.stages import apply_fineweb_filter

    dup = "This exact navigation line repeats twice in the page."
    rows = [
        ("u1", "\n".join(LONG_PUNCT), True, None),
        ("u2", "\n".join(ln.rstrip(".") for ln in LONG_PUNCT), True, None),
        ("u3", "Tiny line.\nAnother tiny.\nStill tiny.\n" + LONG_PUNCT[0],
         True, None),
        ("u4", "\n".join([dup, dup, dup, LONG_PUNCT[0]]), True, None),
        ("u5", "whatever", False, "too_short"),
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    got = {r["url"]: r.asDict() for r in apply_fineweb_filter(df).collect()}
    assert got["u1"]["keep"] is True
    assert got["u2"]["drop_reason"] == "fineweb_punct"
    assert got["u3"]["drop_reason"] == "fineweb_short_lines"
    assert got["u4"]["drop_reason"] == "fineweb_dup_lines"
    assert got["u5"]["drop_reason"] == "too_short"  # untouched
    assert got["u1"]["fineweb_punct_frac"] == 1.0
    assert got["u4"]["fineweb_dup_frac"] > 0.1
