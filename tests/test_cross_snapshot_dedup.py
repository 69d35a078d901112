"""Cross-snapshot incremental dedup (operators/dedup.py
snapshot_band_index / flag_dups_against / drop_dups_against): planted
near-dup semantics, no-shingle safety, parquet round-trip of the index,
determinism, the job stage, and a two-run export→consume end-to-end."""

import subprocess
import sys

from pyspark.sql import functions as F

from harvesttext_spark.operators.dedup import (
    drop_dups_against,
    flag_dups_against,
    snapshot_band_index,
)


def _doc(i, tail=""):
    return (
        f"the quick brown fox number {i} jumps over the lazy dog and the "
        f"corpus stays nicely diverse with token {i * 7919} here{tail}"
    )


def _prior(spark, n=20):
    return spark.createDataFrame(
        [(i, _doc(i)) for i in range(n)], "doc_id bigint, text string"
    )


def test_planted_dup_flags_and_novel_survives(spark):
    prior = _prior(spark)
    idx = snapshot_band_index(prior)
    new = spark.createDataFrame(
        [
            (100, _doc(3)),                      # exact copy of prior doc 3
            (101, _doc(7, tail=" extra word")),  # near-dup of prior doc 7
            (102, "a completely different novel page about cooking pasta "
                  "with tomatoes and basil in a large copper pot tonight"),
        ],
        "doc_id bigint, text string",
    )
    flags = {r["id"]: r["cross_dup"] for r in flag_dups_against(new, idx).collect()}
    assert flags[100] is True
    assert flags[101] is True
    assert flags[102] is False
    kept = {r["doc_id"] for r in drop_dups_against(new, idx).collect()}
    assert kept == {102}


def test_self_dedup_flags_everything(spark):
    prior = _prior(spark)
    idx = snapshot_band_index(prior)
    flags = flag_dups_against(prior, idx)
    assert flags.filter(~F.col("cross_dup")).count() == 0


def test_no_shingle_docs_never_flag(spark):
    prior = _prior(spark)
    idx = snapshot_band_index(prior)
    new = spark.createDataFrame(
        [(200, None), (201, ""), (202, "two words")],
        "doc_id bigint, text string",
    )
    flags = {r["id"]: r["cross_dup"] for r in flag_dups_against(new, idx).collect()}
    assert flags == {200: False, 201: False, 202: False}
    # every input row survives the anti-join (they can't match anything)
    assert drop_dups_against(new, idx).count() == 3


def test_index_parquet_round_trip(spark, tmp_path):
    """The index must behave identically after a persist/load cycle —
    that IS its job (dump N writes it, dump N+1 reads it)."""
    prior = _prior(spark)
    path = str(tmp_path / "idx")
    snapshot_band_index(prior).write.parquet(path)
    loaded = spark.read.parquet(path)
    new = spark.createDataFrame(
        [(100, _doc(5)), (101, "novel cooking pasta page with many words "
                               "and tomatoes and basil in the pot")],
        "doc_id bigint, text string",
    )
    a = sorted(map(str, flag_dups_against(new, snapshot_band_index(prior)).collect()))
    b = sorted(map(str, flag_dups_against(new, loaded).collect()))
    assert a == b
    assert {r["id"]: r["cross_dup"] for r in flag_dups_against(new, loaded).collect()}[100] is True


def test_determinism_across_partitionings(spark):
    prior = _prior(spark)
    new = spark.createDataFrame(
        [(100 + i, _doc(i) if i % 2 == 0 else f"novel page {i} about "
          f"gardening with many different words and tools number {i}")
         for i in range(10)],
        "doc_id bigint, text string",
    )
    idx = snapshot_band_index(prior)
    a = sorted(map(str, flag_dups_against(new, idx).collect()))
    b = sorted(map(str, flag_dups_against(new.repartition(7), snapshot_band_index(prior.repartition(5))).collect()))
    assert a == b


def test_cross_snapshot_job_stage(spark, tmp_path):
    """--dedup-against wiring: kept pages matching the prior index drop
    as cross_snapshot_dup; already-dropped rows keep their reason."""
    from harvesttext_spark.pipeline.stages import apply_cross_snapshot_dedup

    prior = spark.createDataFrame(
        [(f"https://old.example/{i}", _doc(i)) for i in range(10)],
        "url string, text string",
    )
    path = str(tmp_path / "idx")
    snapshot_band_index(prior, id_col="url").write.parquet(path)
    rows = [
        ("https://new.example/copy", _doc(4), True, None),
        ("https://new.example/fresh",
         "novel cooking pasta page with lots of fresh words and basil "
         "in a very large copper pot tonight", True, None),
        ("https://new.example/dead", _doc(5), False, "too_short"),
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    got = {r["url"]: r.asDict()
           for r in apply_cross_snapshot_dedup(df, path).collect()}
    assert got["https://new.example/copy"]["drop_reason"] == "cross_snapshot_dup"
    assert got["https://new.example/fresh"]["keep"] is True
    assert got["https://new.example/dead"]["drop_reason"] == "too_short"


def test_export_then_consume_end_to_end(spark, tmp_path):
    """Two real job runs: run A exports its kept pages' band index; run B
    carries copies of A's pages (different urls) plus novel pages and
    dedups against A's index — the copies drop as cross_snapshot_dup,
    the novels keep.  Subprocess because main() stops its context."""
    import os

    def pages(spark, specs):
        return spark.createDataFrame(
            [(u, "20240101000000", None, t, "en") for u, t in specs],
            "url string, warc_ts string, html string, text string, lang string",
        )

    a_specs = [(f"https://a.example/{i}", _doc(i)) for i in range(12)]
    b_specs = [(f"https://b.example/copy{i}", _doc(i)) for i in range(4)] + [
        (f"https://b.example/novel{i}",
         f"an entirely novel gardening article number {i} with plenty of "
         f"unique words like trowel compost seedling and row {i * 31}")
        for i in range(4)
    ]
    inp_a, inp_b = str(tmp_path / "in_a"), str(tmp_path / "in_b")
    out_a, out_b = str(tmp_path / "out_a"), str(tmp_path / "out_b")
    pages(spark, a_specs).write.parquet(inp_a)
    pages(spark, b_specs).write.parquet(inp_b)
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8", "PYTHONPATH": os.getcwd()}
    ra = subprocess.run(
        [sys.executable, "jobs/run_quality_filter.py", "--input", inp_a,
         "--output", out_a, "--export-dedup-index"],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert ra.returncode == 0, ra.stderr[-2000:]
    assert spark.read.parquet(out_a + "/dedup_index").count() > 0
    rb = subprocess.run(
        [sys.executable, "jobs/run_quality_filter.py", "--input", inp_b,
         "--output", out_b, "--dedup-against", out_a + "/dedup_index"],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert rb.returncode == 0, rb.stderr[-2000:]
    got = {r["url"]: r["drop_reason"]
           for r in spark.read.parquet(out_b + "/data").collect()}
    for i in range(4):
        assert got[f"https://b.example/copy{i}"] == "cross_snapshot_dup", i
    for i in range(4):
        assert got[f"https://b.example/novel{i}"] is None, (i, got)


def test_band_keys_py_matches_snapshot_index(spark):
    """The per-row python (streaming) key computation must be
    bit-identical to the exploded batch index — same docs, same
    'band:key' set — including the short-text whole-doc shingle and the
    empty-text '' shingle modes."""
    from harvesttext_spark.operators.dedup import band_keys_py

    docs = [(i, _doc(i)) for i in range(8)] + [
        (100, "two words"),            # short: whole-text shingle
        (101, ""),                      # empty: the "" shingle
        (102, "a  b\tc\nd"),            # mixed whitespace separators
    ]
    prior = spark.createDataFrame(docs, "doc_id bigint, text string")
    idx = {
        (r["id"], f'{r["band"]}:{r["key"]}')
        for r in snapshot_band_index(prior).collect()
    }
    per_row = {
        (i, s) for i, t in docs for s in band_keys_py(t)
    }
    assert per_row == idx
    assert band_keys_py(None) == []


def test_bloom_index_no_false_negatives(spark):
    """The Bloom sketch of the index must flag every exact-flagged doc
    (no false negatives); false positives stay near the bands*fp bound."""
    from harvesttext_spark.operators.dedup import (
        band_index_bloom,
        cross_dup_bloom_udf,
    )

    prior = _prior(spark, n=50)
    idx = snapshot_band_index(prior)
    params, shards = band_index_bloom(idx, n_shards=4, fp_rate=1e-4)
    new = spark.createDataFrame(
        [(100 + i, _doc(i)) for i in range(10)]  # copies -> must all flag
        + [(500 + i, f"wholly different article {i} about sailing boats "
                     f"and ropes and knots and tide tables number {i * 13}")
           for i in range(40)],
        "doc_id bigint, text string",
    )
    exact = {r["id"]: r["cross_dup"]
             for r in flag_dups_against(new, idx).collect()}
    any_hit = cross_dup_bloom_udf(params, shards)
    approx = {
        r["doc_id"]: r["hit"]
        for r in new.select(
            "doc_id", any_hit(F.col("text")).alias("hit")
        ).collect()
    }
    for i in range(10):
        assert approx[100 + i] is True, i  # no false negatives, ever
    extra = [d for d, h in approx.items() if h and not exact[d]]
    assert len(extra) <= 2, extra  # FPs bounded (4 bands * 1e-4 ~ 0 here)


def test_streaming_dedup_against(spark, tmp_path):
    """Ingest-time cross-snapshot dedup: pages matching the prior dump's
    Bloom-compressed band index never reach the sink; novel pages pass."""
    import pandas as pd

    from harvesttext_spark.operators.dedup import band_index_bloom
    from harvesttext_spark.pipeline.pages import PAGES_SCHEMA
    from harvesttext_spark.streaming.stream_filter import (
        run_stream_to_memory,
        streaming_dedup_against,
    )

    prior = spark.createDataFrame(
        [(f"https://old.example/{i}", _doc(i)) for i in range(12)],
        "url string, text string",
    )
    params, shards = band_index_bloom(
        snapshot_band_index(prior, id_col="url"), n_shards=4
    )

    src = str(tmp_path / "stream_src")
    texts = [_doc(i) for i in range(4)] + [
        f"novel streaming article {i} about pottery glazes and kiln "
        f"temperatures with unique token {i * 101}" for i in range(4)
    ]
    pdf = pd.DataFrame(
        {
            "url": [f"https://new.example/{i}" for i in range(8)],
            "warc_ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(range(8), unit="s"),
            "html": [b""] * 8,
            "text": texts,
            "lang": ["en"] * 8,
        }
    )
    spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.parquet(src)

    run_stream_to_memory(
        streaming_dedup_against(spark, src, params, shards), "xsnap_stream"
    )
    urls = {r["url"] for r in spark.sql("SELECT url FROM xsnap_stream").collect()}
    assert urls == {f"https://new.example/{i}" for i in range(4, 8)}
