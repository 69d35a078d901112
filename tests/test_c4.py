"""C4 line battery (functions/c4.py): rule isolation goldens, NULL
modes, and the job stage wiring.  Byte-level Spark/DuckDB parity is
covered by the `c4_line_filters` oracle in test_oracle_parity."""

import pytest
from pyspark.sql import functions as F

from harvesttext_spark.functions.c4 import c4_clean


def _run(spark, text, **kw):
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    return c4_clean(df, **kw).collect()[0].asDict()


def test_terminal_punct_rule(spark):
    r = _run(
        spark,
        "This line properly ends with a period.\n"
        "this long line has no terminal punctuation at all\n"
        "Does this question line with words survive?\n"
        "Exclamation line with enough words here!\n"
        'He said "quoted line endings also count here"',
    )
    assert r["n_lines"] == 5 and r["n_lines_kept"] == 4
    assert "no terminal punctuation" not in r["text_c4"]


def test_min_words_rule(spark):
    r = _run(spark, "Too short.\nThis line has five words total.")
    assert r["n_lines_kept"] == 1
    r2 = _run(spark, "Too short.\nThis line has five words total.", min_words=2)
    assert r2["n_lines_kept"] == 2


def test_javascript_rule(spark):
    r = _run(
        spark,
        "Please enable JavaScript to view this.\n"
        "A perfectly ordinary sentence with words.",
    )
    assert r["n_lines_kept"] == 1
    assert "JavaScript" not in r["text_c4"]


def test_page_flags(spark):
    assert _run(spark, "function() { return 1; }")["has_curly"] is True
    assert _run(spark, "Lorem IPSUM dolor sit amet.")["has_lorem_ipsum"] is True
    # sentence count ~ terminal punct marks in retained text
    r = _run(spark, "One full sentence here with words. Another one right here!")
    assert r["n_sentences"] == 2


def test_null_and_empty_modes(spark):
    r = _run(spark, None)
    assert r["text_c4"] is None and r["n_lines"] == 0 and r["n_lines_kept"] == 0
    assert r["has_curly"] is False
    r2 = _run(spark, "")
    assert r2["text_c4"] == "" and r2["n_lines"] == 1 and r2["n_lines_kept"] == 0


def test_trailing_whitespace_terminal(spark):
    r = _run(spark, "Line ends with period then trailing spaces here.   ")
    assert r["n_lines_kept"] == 1  # rstrip before the terminal check


def test_c4_job_stage(spark):
    """--c4-line-filter wiring: kept pages get line-filtered text_clean;
    brace/lorem/short pages drop with their reasons; already-dropped
    rows keep reason AND original text (audit)."""
    from harvesttext_spark.pipeline.stages import apply_c4_line_filter

    rows = [
        ("u1", "Good first sentence with enough words.\nbad line\n"
               "Second proper sentence with many words!\n"
               "Third full sentence for the count here?", True, None),
        ("u2", "Code page { with a brace and sentences. More words here. "
               "Third sentence too.", True, None),
        ("u3", "Lorem ipsum filler page with sentences. Two here. Three here.",
         True, None),
        ("u4", "Only one surviving sentence with words.", True, None),
        ("u5", "whatever", False, "too_short"),
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    got = {r["url"]: r.asDict() for r in apply_c4_line_filter(df).collect()}
    assert got["u1"]["keep"] and "bad line" not in got["u1"]["text_clean"]
    assert got["u1"]["c4_lines_kept"] == 3
    assert got["u2"]["drop_reason"] == "c4_brace"
    assert got["u3"]["drop_reason"] == "c4_lorem"
    assert got["u4"]["drop_reason"] == "c4_short_page"
    assert got["u5"]["drop_reason"] == "too_short"  # untouched
    # dropped rows keep original bytes
    assert got["u4"]["text_clean"] == rows[3][1]
