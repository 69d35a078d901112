"""End-to-end gate: the distributed pipeline must reproduce single-threaded
reference-semantics labels at F1 ≥ 0.99 with byte-identical scrubbed text
per url (BASELINE.json north_rule / input_hint)."""

import pytest
from pyspark.sql import functions as F

from harvesttext_spark.pipeline.pages import synthesize_pages
from harvesttext_spark.pipeline.quality_filter import (
    domain_metrics,
    partition_lineage,
    quality_filter,
)
from tests.reference_impl import label_py

N_PAGES = 1500


@pytest.fixture(scope="module")
def labeled(spark):
    pages = synthesize_pages(spark, n=N_PAGES, seed=42, partitions=8)
    out = quality_filter(pages).select(
        "url", "text", "text_clean", "keep", "drop_reason"
    )
    rows = {r["url"]: r for r in out.collect()}
    assert len(rows) == N_PAGES
    return rows


@pytest.fixture(scope="module")
def reference_rows(spark):
    pages = synthesize_pages(spark, n=N_PAGES, seed=42, partitions=8)
    return {r["url"]: r["text"] for r in pages.select("url", "text").collect()}


def test_byte_identical_scrubbed_text(labeled, reference_rows):
    for url, raw in reference_rows.items():
        expect_clean, _, _ = label_py(raw)
        assert labeled[url]["text_clean"] == expect_clean, url


def test_keep_drop_f1(labeled, reference_rows):
    tp = fp = fn = 0
    mismatch = []
    for url, raw in reference_rows.items():
        _, ref_keep, ref_reason = label_py(raw)
        got = labeled[url]["keep"]
        if got and ref_keep:
            tp += 1
        elif got and not ref_keep:
            fp += 1
            mismatch.append((url, "fp", ref_reason))
        elif not got and ref_keep:
            fn += 1
            mismatch.append((url, "fn", labeled[url]["drop_reason"]))
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-9)
    assert f1 >= 0.99, (f1, mismatch[:10])


def test_drop_reasons_match(labeled, reference_rows):
    agree = sum(
        1
        for url, raw in reference_rows.items()
        if label_py(raw)[2] == labeled[url]["drop_reason"]
    )
    assert agree / len(reference_rows) >= 0.99


def test_determinism_across_partitionings(spark):
    """Same (seed, n) at different parallelism → identical table (the resume
    / lineage contract)."""
    a = synthesize_pages(spark, n=300, seed=7, partitions=2)
    b = synthesize_pages(spark, n=300, seed=7, partitions=8)
    ah = a.select(F.sha2(F.concat_ws("|", "url", "text", "lang"), 256).alias("h"))
    bh = b.select(F.sha2(F.concat_ws("|", "url", "text", "lang"), 256).alias("h"))
    assert ah.subtract(bh).count() == 0 and bh.subtract(ah).count() == 0


def test_null_document_dropped(spark):
    """html=NULL and text=NULL must yield keep=false/null_text, never a
    silent keep with NULL text_clean (found by verification probe)."""
    import pandas as pd

    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["https://x.com/p/3"],
                "warc_ts": pd.to_datetime(["2024-01-01"]),
                "html": [None],
                "text": [None],
                "lang": ["en"],
            }
        )
    )
    r = quality_filter(probe).select("keep", "drop_reason").first()
    assert r["keep"] is False and r["drop_reason"] == "null_text"


def test_metrics_shapes(spark):
    pages = synthesize_pages(spark, n=500, seed=42)
    lab = quality_filter(pages)
    dm = domain_metrics(lab)
    assert dm.filter(F.col("n_keep") > F.col("n_docs")).count() == 0
    assert dm.agg(F.sum("n_docs")).first()[0] == 500
    pl = partition_lineage(lab)
    assert pl.agg(F.sum("n_docs")).first()[0] == 500


def test_latin_corpus_f1_and_bytes_with_fast_path(spark):
    """North-rule gates on the Common-Crawl-realistic latin-majority mix,
    WITH the ASCII fast path enabled: byte-identical scrubbed text and
    exact keep/drop agreement vs the single-threaded reference impl."""
    pages = synthesize_pages(spark, n=1500, seed=99, partitions=8, latin_frac=0.85)
    out = quality_filter(pages, fast_path=True).select(
        "url", "text", "text_clean", "keep", "drop_reason"
    )
    got = {r["url"]: r for r in out.collect()}
    raws = {
        r["url"]: r["text"]
        for r in synthesize_pages(
            spark, n=1500, seed=99, partitions=4, latin_frac=0.85
        ).collect()
    }
    assert len(got) == 1500
    bad = []
    for url, raw in raws.items():
        clean, keep, reason = label_py(raw)
        r = got[url]
        if r["text_clean"] != clean or r["keep"] != keep or r["drop_reason"] != reason:
            bad.append((url, raw[:40]))
    assert not bad, bad[:5]


def test_domain_metrics_full(spark):
    """Per-domain model rollups (avg ppl / coherence) join onto the salted
    keep/drop stats; every domain row survives the left join, and avg_ppl
    is each domain's mean of the ppl column quality_filter_full wrote (no
    second LM)."""
    import math

    from harvesttext_spark.pipeline.quality_filter import (
        domain_col,
        domain_metrics_full,
        quality_filter_full,
    )

    labeled = quality_filter_full(
        synthesize_pages(spark, n=400, seed=11), ppl_threshold=1000
    )
    base = {r["domain"] for r in domain_metrics(labeled).collect()}
    rows = domain_metrics_full(labeled).collect()
    assert {r["domain"] for r in rows} == base
    assert all("avg_coherence" in r.asDict() for r in rows)
    ppls = {}
    for r in labeled.select(domain_col().alias("domain"), "ppl").collect():
        if r["ppl"] is not None:
            ppls.setdefault(r["domain"], []).append(r["ppl"])
    assert ppls, "no doc received a perplexity"
    for r in rows:
        want = ppls.get(r["domain"])
        if want is None:
            assert r["avg_ppl"] is None, r
        else:
            assert r["avg_ppl"] == pytest.approx(
                math.fsum(want) / len(want), rel=1e-12
            ), r["domain"]


def test_quality_filter_full_partition_invariant(spark):
    """The full-mode output does not depend on the shuffle partition count
    (the job's session sizes it to the cores): 3 and 7 partitions give the
    same labels and scrubbed text, and the same ppl up to the float
    summation order."""
    from harvesttext_spark.pipeline.quality_filter import quality_filter_full
    from harvesttext_spark.session import SHUFFLE_PARTITIONS, clear_persist_slots

    def run(n):
        # cold caches: a plan-keyed persist built at the other count
        # would otherwise be reused
        clear_persist_slots()
        spark.conf.set(SHUFFLE_PARTITIONS, str(n))
        out = quality_filter_full(
            synthesize_pages(spark, 400, seed=11),
            ppl_threshold=1000,
            repetition_rules=True,
        )
        return {
            r["url"]: r
            for r in out.select("url", "keep", "drop_reason", "text_clean", "ppl").collect()
        }

    prev = spark.conf.get(SHUFFLE_PARTITIONS)
    try:
        a, b = run(3), run(7)
    finally:
        clear_persist_slots()
        spark.conf.set(SHUFFLE_PARTITIONS, prev)
    assert len(a) == 400 and a.keys() == b.keys()
    cols = ("keep", "drop_reason", "text_clean")
    assert {u: tuple(r[c] for c in cols) for u, r in a.items()} == {
        u: tuple(r[c] for c in cols) for u, r in b.items()
    }
    for u, r in a.items():
        if r["ppl"] is None:
            assert b[u]["ppl"] is None, u
        else:
            assert b[u]["ppl"] == pytest.approx(r["ppl"], rel=1e-12), u


def test_qf_probe_rows_cover_every_reason(spark):
    """The flagship oracle's probe battery must exercise every drop reason
    AND the cleaning passes (URL/email/tags/markdown/weibo/space/strip) —
    checked here against the real Python battery so the probe set cannot
    silently rot into identity rows."""
    import __spark_entry__ as entrymod
    from harvesttext_spark.functions.cleaning import clean_text_py

    reasons = {}
    for doc_id, raw in entrymod.QF_PROBES:
        if raw is None:
            reasons[doc_id] = "null_text"
            continue
        cleaned = clean_text_py(raw)
        assert "\n" not in cleaned
        if doc_id in (1000007, 1000008, 1000009, 1000010, 1000011, 1000012):
            # the battery must CHANGE these rows (pass actually exercised)
            assert cleaned != raw, (doc_id, raw)
    out = {
        r["doc_id"]: r["drop_reason"]
        for r in entrymod.q_quality_filter_labels(
            spark, "/root/testdata/sf0.001"
        )
        .filter("doc_id >= 1000000")
        .collect()
    }
    expect = {
        1000001: "null_text",
        1000002: "too_short",
        1000003: "low_alnum",
        1000004: "low_diversity",
        1000005: None,
        1000006: "char_run",
        1000007: None,
        1000008: None,
        1000009: None,
        1000010: None,
        1000011: None,
        1000012: None,
    }
    assert out == expect


def test_quality_filter_full_repetition_rules(spark):
    """Gopher repetition drops only ADD to already-kept docs: a synthetic
    repeated-line page flips to high_dup_lines; normal pages keep their
    base decision; base-dropped docs keep their original reason."""
    from pyspark.sql import functions as F

    from harvesttext_spark.pipeline.pages import synthesize_pages
    from harvesttext_spark.pipeline.quality_filter import quality_filter_full

    pages = synthesize_pages(spark, n=120, seed=3)
    # plant a dup-line doc that still passes the base cascade (token
    # diversity stays high; only the LINE repetition rule should fire):
    # 4 identical lines + 4 distinct ones -> dup_line_frac = 3/8 = 0.375
    rep_text = "\n".join(
        ["spark engines shuffle data across partitions"] * 4
        + [
            "morning fog settles over quiet rivers today",
            "seventeen green bottles stand along the wall",
            "quantum harvest metrics improve with tuning",
            "final unique closing line about nothing else",
        ]
    )
    planted = pages.limit(1).select(
        F.lit("https://rep.example/x").alias("url"),
        F.col("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(rep_text).alias("text"),
        F.lit("en").alias("lang"),
    )
    inp = pages.unionByName(planted.select(*pages.columns))
    out = quality_filter_full(inp, ppl_threshold=float("inf"), repetition_rules=True)
    r = out.filter(F.col("url") == "https://rep.example/x").collect()[0]
    assert r["drop_reason"] == "high_dup_lines" and not r["keep"]
    base = quality_filter_full(inp, ppl_threshold=float("inf"))
    # repetition pass must not flip any base-dropped doc's reason
    a = {x["url"]: x["drop_reason"] for x in base.collect() if x["drop_reason"]}
    b = {x["url"]: x["drop_reason"] for x in out.collect() if x["drop_reason"]}
    for url, reason in a.items():
        assert b.get(url) in (reason, "high_dup_lines", "high_top_bigram")


def test_job_boilerplate_pre_pass_with_dup_urls(spark):
    """Job wiring guard: --drop-boilerplate must survive DUPLICATE urls.
    Unguarded, drop_boilerplate_lines' groupBy(url) interleaves lines from
    different rows into one merged text and fans it back onto every dup —
    the wiring dedups exact urls first (latest crawl survives)."""
    import datetime as dt

    from jobs.run_quality_filter import apply_pre_passes

    boiler = "accept all cookies"
    rows = [
        # same url crawled twice with different bodies
        ("https://d.example/p", dt.datetime(2024, 1, 1),
         f"{boiler}\nold body line"),
        ("https://d.example/p", dt.datetime(2024, 2, 1),
         f"{boiler}\nnew body line"),
        ("https://d.example/q", dt.datetime(2024, 1, 1),
         f"{boiler}\nunrelated page q"),
        ("https://d.example/r", dt.datetime(2024, 1, 1),
         f"{boiler}\npage r keeps this"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    out = {
        r["url"]: r["text"]
        for r in apply_pre_passes(df, url_dedup=False, boilerplate_min_df=3).collect()
    }
    # one row per url, boilerplate line gone, NO cross-row interleaving,
    # and the url-dup survivor is the latest crawl
    assert out == {
        "https://d.example/p": "new body line",
        "https://d.example/q": "unrelated page q",
        "https://d.example/r": "page r keeps this",
    }


def test_gopher_ngram_rules(spark):
    """Extended Gopher table-A1 rules (round 4): a doc with several
    DIFFERENT repeated 5-grams trips high_dup_5gram while passing every
    earlier rule (top-n-gram fracs stay small because no single n-gram
    dominates; diversity/lines/alnum all clean)."""
    from harvesttext_spark.pipeline.quality_filter import quality_filter_full

    pages = synthesize_pages(spark, n=120, seed=5)
    segs = [
        " ".join(f"seg{i}{c}" for c in "abcde") for i in range(4)
    ]
    fill = [f"filler{j:02d}" for j in range(40)]
    parts = []
    fi = 0
    for rep in range(2):
        for s in segs:
            parts.append(s)
            parts.extend(fill[fi : fi + 5])
            fi += 5
    planted_text = " ".join(parts)
    planted = pages.limit(1).select(
        F.lit("https://dup5.example/x").alias("url"),
        F.col("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(planted_text).alias("text"),
        F.lit("en").alias("lang"),
    )
    inp = pages.unionByName(planted.select(*pages.columns))
    out = quality_filter_full(
        inp,
        ppl_threshold=float("inf"),
        repetition_rules=True,
        gopher_ngram_rules=True,
    )
    r = out.filter(F.col("url") == "https://dup5.example/x").collect()[0]
    assert r["drop_reason"] == "high_dup_5gram" and not r["keep"], r["drop_reason"]
    # the extra rules only ADD drops: every base-dropped doc keeps a reason
    base = quality_filter_full(inp, ppl_threshold=float("inf"))
    a = {x["url"]: x["drop_reason"] for x in base.collect() if x["drop_reason"]}
    b = {x["url"]: x["drop_reason"] for x in out.collect()}
    for url in a:
        assert b[url] is not None


def test_domain_drop_samples_two_level_topk(spark):
    """The salted two-level partial top-k must equal a direct global
    per-domain top-k (window), and be invariant to input partitioning —
    the deterministic-reservoir contract."""
    from pyspark.sql import Window

    from harvesttext_spark.pipeline.quality_filter import (
        domain_drop_samples,
        quality_filter,
    )

    pages = synthesize_pages(spark, n=400, seed=13)
    labeled = quality_filter(pages)
    got = {
        (r["domain"], r["rnk"]): r["url"]
        for r in domain_drop_samples(labeled, k=3).collect()
    }
    # direct reference: global window over the same dropped set
    dropped = labeled.filter(~F.col("keep")).select(
        F.regexp_extract("url", "^https?://([^/]+)/.*$", 1).alias("domain"),
        "url",
        F.md5("url").alias("h"),
    )
    w = Window.partitionBy("domain").orderBy("h", "url")
    want = {
        (r["domain"], r["rn"] - 1): r["url"]
        for r in dropped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }
    assert got == want and got
    # partitioning-invariant
    got2 = {
        (r["domain"], r["rnk"]): r["url"]
        for r in domain_drop_samples(labeled.repartition(13), k=3).collect()
    }
    assert got2 == got


def test_job_text_dedup_pre_passes(spark):
    """--exact-dedup / --minhash-dedup wiring: identical texts collapse to
    the min-url survivor, near-identical texts collapse via MinHash, and
    NULL-text (html-only) pages pass through untouched — md5(NULL) must
    never group them into one digest."""
    import datetime as dt

    from jobs.run_quality_filter import apply_pre_passes

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away across the wide green field tonight")
    near = base.replace("tonight", "today")  # high-jaccard near-dup
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("https://a.example/1", ts, base),
        ("https://a.example/2", ts, base),            # exact dup of /1
        ("https://a.example/3", ts, near),            # near dup of /1
        ("https://a.example/4", ts, "something else entirely different here"),
        ("https://a.example/n1", ts, None),           # html-only pages
        ("https://a.example/n2", ts, None),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    exact = {
        r["url"]
        for r in apply_pre_passes(df, exact_dedup=True).collect()
    }
    assert exact == {
        "https://a.example/1",   # min-url survivor of the exact pair
        "https://a.example/3",
        "https://a.example/4",
        "https://a.example/n1",  # null-text rows ALL survive
        "https://a.example/n2",
    }
    both = {
        r["url"]
        for r in apply_pre_passes(
            df, exact_dedup=True, minhash_jaccard=0.5
        ).collect()
    }
    assert both == {
        "https://a.example/1",   # near-dup /3 collapsed into /1
        "https://a.example/4",
        "https://a.example/n1",
        "https://a.example/n2",
    }


def test_repetition_ngram_signals_property(spark):
    """Property check vs a brute-force Python reference on 60 random
    small-vocab docs (seeded): top-n-gram coverage and the duplicate-
    n-gram overlap-union math must agree exactly."""
    import random

    from harvesttext_spark.functions.textstats import repetition_ngram_signals

    rng = random.Random(42)
    vocab = ["aa", "bbb", "cccc", "dd", "e", "ffffff", "gg", "hhh"]
    docs = []
    for i in range(60):
        n = rng.randint(0, 30)
        toks = [rng.choice(vocab) for _ in range(n)]
        # half the docs get a planted repeated run to exercise dups
        if i % 2 == 0 and n >= 12:
            run = toks[:6]
            toks = toks[:n // 2] + run + toks[n // 2 :] + run
        docs.append((i, " ".join(toks)))

    def ref(text, top_ns=(3, 4), dup_ns=(5, 10)):
        ws = [t for t in text.split() if t]
        n_chars = len(text)
        out = {}
        for n in top_ns:
            grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
            best = 0.0
            from collections import Counter

            for g, c in Counter(grams).items():
                best = max(best, c * len(g) / max(n_chars, 1))
            out[f"top_{n}gram_char_frac"] = round(best, 6)
        tok_chars = sum(len(t) for t in ws)
        for n in dup_ns:
            grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
            from collections import Counter

            cnt = Counter(grams)
            covered = set()
            for i, g in enumerate(grams):
                if cnt[g] >= 2:
                    covered.update(range(i, i + n))
            cov = sum(len(ws[p]) for p in covered)
            out[f"dup_{n}gram_char_frac"] = round(cov / max(tok_chars, 1), 6)
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_ngram_signals(df).collect()
    }
    for i, text in docs:
        want = ref(text)
        for k, v in want.items():
            assert abs(got[i][k] - v) < 1e-9, (i, k, got[i][k], v, text)


def test_domain_drop_samples_by_reason(spark):
    """by_reason grain: k samples of EACH failure mode per domain, same
    determinism; the flat grain is unchanged by the refactor."""
    from harvesttext_spark.pipeline.quality_filter import (
        domain_drop_samples,
        quality_filter,
    )

    labeled = quality_filter(synthesize_pages(spark, n=400, seed=13))
    flat = domain_drop_samples(labeled, k=2)
    assert flat.columns == ["domain", "rnk", "url", "drop_reason"]
    per = domain_drop_samples(labeled, k=2, by_reason=True)
    assert per.columns == ["domain", "drop_reason", "rnk", "url"]
    rows = per.collect()
    assert rows
    # at most k per (domain, reason); rnk dense from 0
    from collections import Counter

    c = Counter((r["domain"], r["drop_reason"]) for r in rows)
    assert max(c.values()) <= 2
    for (d, rs), n in c.items():
        got = sorted(
            r["rnk"] for r in rows if r["domain"] == d and r["drop_reason"] == rs
        )
        assert got == list(range(n))
    # per-reason sampling is a superset of grains: every flat sample's
    # (domain, reason) pair appears in the per-reason output
    flat_pairs = {(r["domain"], r["drop_reason"]) for r in flat.collect()}
    assert flat_pairs <= set(c)


def test_lang_whitelist_null_pred_filtered(spark):
    """--keep-langs must be NULL-safe: a kept doc with lang_pred=NULL is
    outside the whitelist (a bare `keep & ~isin` evaluates NULL and let
    such docs silently bypass the filter)."""
    from jobs.run_quality_filter import apply_lang_whitelist

    rows = [
        ("u1", "zh", True, None),
        ("u2", "fr", True, None),           # not whitelisted
        ("u3", None, True, None),           # unknown language -> filtered
        ("u4", None, False, "null_text"),   # already dropped: untouched
    ]
    df = spark.createDataFrame(
        rows, "url string, lang_pred string, keep boolean, drop_reason string"
    )
    got = {
        r["url"]: (r["keep"], r["drop_reason"])
        for r in apply_lang_whitelist(df, ["zh", "en"]).collect()
    }
    assert got == {
        "u1": (True, None),
        "u2": (False, "lang_filtered"),
        "u3": (False, "lang_filtered"),
        "u4": (False, "null_text"),
    }


def test_toxicity_filter_stage(spark):
    """--max-toxicity wiring: kept docs above the density threshold become
    drop_reason=toxicity; already-dropped docs keep their reason; the
    density lands in a toxicity metric column; NULL density passes."""
    from jobs.run_quality_filter import apply_toxicity_filter

    rows = [
        ("u1", "vile vile vile awful text here", True, None),
        ("u2", "one vile word in lots of perfectly ordinary prose here",
         True, None),
        ("u3", "vile awful vile", False, "too_short"),
        ("u4", None, True, None),
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    got = {
        r["url"]: (r["keep"], r["drop_reason"], r["toxicity"])
        for r in apply_toxicity_filter(df, ["vile", "awful"], 0.3).collect()
    }
    assert got["u1"][:2] == (False, "toxicity") and got["u1"][2] > 0.3
    assert got["u2"][:2] == (True, None)
    assert got["u3"][:2] == (False, "too_short")  # untouched
    assert got["u4"][:2] == (True, None) and got["u4"][2] is None


def test_script_mix_signals_hand_values(spark):
    """Hand-computed per-script fractions + dominance tie-breaks."""
    from harvesttext_spark.functions.textstats import script_mix_signals

    rows = [
        (0, "abc 中文"),        # 3 latin, 2 han, 1 space -> latin dominant 0.5
        (1, "中中 aa"),         # tie 2 han / 2 latin -> han wins (preference)
        (2, "Привет"),          # 6 cyrillic
        (3, ""),                # empty -> none, all 0
        (4, "1234!"),           # 4 digit, 1 punct -> digit dominant
        (5, "Ωμέγα"),           # greek: unclassified -> other_frac 1, none
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = script_mix_signals(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[v.alias(k) for k, v in sig.items()],
        ).collect()
    }
    assert got[0]["latin_frac"] == 0.5 and got[0]["han_frac"] == pytest.approx(1 / 3)
    assert got[0]["dominant_script"] == "latin" and got[0]["dominant_frac"] == 0.5
    assert got[1]["dominant_script"] == "han"  # tie -> preference order
    assert got[2]["cyrillic_frac"] == 1.0 and got[2]["dominant_script"] == "cyrillic"
    assert got[3]["dominant_script"] == "none" and got[3]["dominant_frac"] == 0.0
    assert got[4]["dominant_script"] == "digit" and got[4]["digit_frac"] == 0.8
    assert got[5]["other_frac"] == 1.0 and got[5]["dominant_script"] == "none"
    # fractions + other always sum to 1 (exhaustive partition of chars)
    for r in got.values():
        if r["doc_id"] == 3:
            continue
        total = sum(
            r[k]
            for k in (
                "latin_frac", "han_frac", "cyrillic_frac", "arabic_frac",
                "digit_frac", "punct_frac", "space_frac", "other_frac",
            )
        )
        assert total == pytest.approx(1.0)


def test_dsir_select_stage(spark):
    """--dsir-keep-frac wiring: among kept docs, the target-similar ones
    survive the resample while off-distribution kept docs become
    drop_reason=dsir; already-dropped docs keep their reason and never
    enter the raw model; dsir_logw lands as a metric column."""
    from jobs.run_quality_filter import apply_dsir_select

    rows = [
        ("u1", "quality data makes quality models", True, None),
        ("u2", "quality text selection importance quality", True, None),
        ("u3", "zebra xylophone quantum marmalade turnip", True, None),
        ("u4", "junk junk junk", False, "too_short"),
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    target = spark.createDataFrame(
        [("quality data quality models quality selection",)], "text_clean string"
    )
    got = {
        r["url"]: (r["keep"], r["drop_reason"], r["dsir_logw"])
        for r in apply_dsir_select(df, target, keep_frac=0.5).collect()
    }
    # 3 kept docs, keep_frac .5 -> threshold at the median key (keys are
    # gap-separated by >1.5 here, far above gumbel/fp wobble): the
    # off-distribution doc (lowest logw by construction) must drop
    assert got["u3"][:2] == (False, "dsir")
    assert got["u1"][:2] == (True, None) and got["u2"][:2] == (True, None)
    assert got["u4"][:2] == (False, "too_short")  # untouched, no resurrect
    assert got["u1"][2] > got["u3"][2]  # metric column ordered as planted
    # keep_frac=1.0 keeps every kept doc (threshold -inf, no quantile job)
    all_kept = apply_dsir_select(df, target, keep_frac=1.0).collect()
    assert all(r["keep"] for r in all_kept if r["url"] != "u4")


def test_packing_stage(spark):
    """--pack-max-tokens wiring: kept docs get (pack_shard, pack_bin)
    sequence ids under the token budget; dropped docs get NULL pack
    columns and never occupy bin capacity."""
    from jobs.run_quality_filter import apply_packing

    rows = [
        ("u1", "a b c d", True, None),
        ("u2", "e f g", True, None),
        ("u3", "h i j k l m n o p q r s", True, None),  # 12 > 8: oversize
        ("u4", "x y z", False, "too_short"),
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    got = {r["url"]: r.asDict() for r in apply_packing(df, 8).collect()}
    assert got["u4"]["pack_bin"] is None  # dropped: no pack id
    for u in ("u1", "u2", "u3"):
        assert got[u]["pack_bin"] is not None
    assert got["u3"]["oversize"] is True
    assert not got["u1"]["oversize"] and not got["u2"]["oversize"]
    # capacity: any shared (shard, bin) among kept docs sums <= 8
    from collections import defaultdict

    fill = defaultdict(int)
    for u in ("u1", "u2"):
        fill[(got[u]["pack_shard"], got[u]["pack_bin"])] += got[u]["pack_tokens"]
    assert all(v <= 8 for v in fill.values())


def test_script_mix_filter_stage(spark):
    """--min-dominant-script-frac wiring: kept mixed-script docs drop as
    script_mix; already-dropped docs keep their reason; metric columns
    land; NULL text reports 'none'/0.0 (dropped upstream anyway)."""
    from jobs.run_quality_filter import apply_script_mix_filter

    rows = [
        ("u1", "a中b文c字d符e符 Ω дa 1ب!", True, None),  # no script dominates
        ("u2", "perfectly ordinary latin prose here today", True, None),
        ("u3", "a中b文", False, "too_short"),
        ("u4", None, True, None),
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    got = {
        r["url"]: (r["keep"], r["drop_reason"], r["dominant_script"], r["dominant_frac"])
        for r in apply_script_mix_filter(df, 0.5).collect()
    }
    assert got["u1"][:2] == (False, "script_mix")
    assert got["u2"][:2] == (True, None) and got["u2"][2] == "latin"
    assert got["u3"][:2] == (False, "too_short")  # untouched
    # NULL text: NULL counts -> dominant 'none', coalesced frac 0.0 ->
    # drops here too (it is already dropped as null_text upstream in the
    # real pipeline; this stage just never resurrects it)
    assert got["u4"][:3] == (False, "script_mix", "none")


def test_decontamination_stage(spark):
    """--decontaminate wiring: kept docs sharing an n-gram with the
    benchmark become drop_reason=contaminated; dropped docs keep their
    reason; duplicate urls are marked identically without fan-out."""
    from jobs.run_quality_filter import apply_decontamination

    bench = ["never train on this exact evaluation passage at all"]
    rows = [
        ("u1", "intro never train on this exact evaluation passage at all end",
         True, None),
        ("u2", "perfectly original content with no overlap whatsoever here",
         True, None),
        ("u3", "never train on this exact evaluation passage at all",
         False, "too_short"),
        ("u1", "intro never train on this exact evaluation passage at all end",
         True, None),  # duplicate url
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    out = apply_decontamination(df, bench, n=5).collect()
    assert len(out) == 4  # no fan-out on the duplicate url
    got = {(r["url"], r["keep"], r["drop_reason"]) for r in out}
    assert ("u1", False, "contaminated") in got
    assert ("u2", True, None) in got
    assert ("u3", False, "too_short") in got


def test_url_risk_filter_stage(spark):
    """--max-url-risk: pure column-math scoring; kept docs above the
    threshold drop as url_risk; custom keyword lists override; already-
    dropped docs keep their reason."""
    from jobs.run_quality_filter import apply_url_risk_filter

    rows = [
        ("https://freepornhub.example/xxx", True, None),       # 2 hits
        ("https://www.sussex.ac.uk/", True, None),             # 1 ('sussex')
        ("https://plain.example.org/a", True, None),           # 0
        ("https://casino.example/slots", False, "too_short"),  # untouched
    ]
    df = spark.createDataFrame(rows, "url string, keep boolean, drop_reason string")
    got = {
        r["url"].split("//")[1].split(".")[0]: (r["keep"], r["drop_reason"], r["url_risk"])
        for r in apply_url_risk_filter(df, max_risk=1).collect()
    }
    assert got["freepornhub"] == (False, "url_risk", 2)
    assert got["www"] == (True, None, 1)       # at threshold: kept
    assert got["plain"] == (True, None, 0)
    assert got["casino"][:2] == (False, "too_short")
    # custom keywords
    custom = {
        r["url"]: r["url_risk"]
        for r in apply_url_risk_filter(df, 0, ["sussex"]).collect()
    }
    assert custom["https://www.sussex.ac.uk/"] == 1
    assert custom["https://freepornhub.example/xxx"] == 0


def test_all_policy_stages_compose(spark, tmp_path):
    """Full job with EVERY stage enabled at once — pre-passes (url dedup,
    boilerplate, exact, minhash) + fast-path filter + keep-langs +
    url-risk + decontamination + toxicity + pii-scrub: stages must not
    collide on columns and every drop_reason must be attributable."""
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from harvesttext_spark.pipeline import synthesize_pages

    inp = str(tmp_path / "pages")
    p = synthesize_pages(spark, n=250, seed=21)
    p = p.withColumn(
        "url",
        F.when(F.col("url").endswith("/9"),
               F.lit("https://xxx-casino.example/slots")).otherwise(F.col("url")),
    )
    p.write.parquet(inp)
    kept_zh = p.filter("lang = 'zh'").select("text").first()[0]

    lex = tmp_path / "tox.txt"; lex.write_text("casino\nslots\n")
    bench = tmp_path / "bench.txt"; bench.write_text(kept_zh + "\n")
    out = str(tmp_path / "out")
    # subprocess: main() stops its SparkContext, which would kill the
    # session-scoped pytest fixture if run in-process
    proc = subprocess.run(
        [sys.executable, "jobs/run_quality_filter.py",
         "--input", inp, "--output", out,
         "--fix-mojibake", "--url-dedup", "--drop-boilerplate", "3",
         "--dedup-paragraphs", "--cut-dup-spans", "8", "--exact-dedup",
         "--minhash-dedup", "0.8", "--fast-path",
         "--keep-langs", "zh,en,es,fr",
         "--max-url-risk", "0",
         "--decontaminate", str(bench), "--decontaminate-ngram", "2",
         "--max-toxicity", "0.5", "--toxicity-lexicon", str(lex),
         "--zh-policy-seg", "--pii-scrub"],
        capture_output=True, text=True, timeout=600,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "8",
             "PYTHONPATH": __import__("os").getcwd()},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    df = spark.read.parquet(out + "/data")
    reasons = {r["drop_reason"] for r in df.select("drop_reason").distinct().collect()}
    assert "url_risk" in reasons          # the planted risky url
    assert {"toxicity", "url_risk", "lang_filtered"} - reasons <= {"toxicity", "lang_filtered"}
    # metric columns from every scoring stage present
    for col in ("toxicity", "url_risk", "keep", "drop_reason", "text_clean"):
        assert col in df.columns, col
    # keep flag consistent with drop_reason everywhere
    assert df.filter("keep != (drop_reason IS NULL)").count() == 0


def test_resume_applies_policy_stages(spark, tmp_path):
    """--resume previously IGNORED every post-label policy flag; now the
    policy chain composes into filter_fn.  Run a resumed job with
    --keep-langs and assert resumed output contains lang_filtered rows
    and zero kept rows outside the whitelist."""
    import os
    import subprocess
    import sys

    from harvesttext_spark.pipeline import synthesize_pages

    inp = str(tmp_path / "pages")
    synthesize_pages(spark, n=200, seed=31).write.parquet(inp)
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, "jobs/run_quality_filter.py",
         "--input", inp, "--output", out,
         "--resume", "--buckets", "8", "--keep-langs", "zh"],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8", "PYTHONPATH": os.getcwd()},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    df = spark.read.parquet(out + "/data")
    reasons = {r["drop_reason"] for r in df.select("drop_reason").distinct().collect()}
    assert "lang_filtered" in reasons
    assert df.filter("keep AND lang_pred != 'zh'").count() == 0


def test_cut_dup_spans_pre_pass(spark):
    """--cut-dup-spans wiring: duplicated runs vanish from later pages,
    first occurrence survives, null-text rows pass through."""
    import datetime as dt

    from jobs.run_quality_filter import apply_pre_passes

    run = "s1 s2 s3 s4 s5 s6 s7 s8"
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("https://a.example/1", ts, f"{run} original body here"),
        ("https://a.example/2", ts, f"other intro {run} other outro"),
        ("https://a.example/3", ts, None),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    got = {
        r["url"]: r["text"]
        for r in apply_pre_passes(df, cut_dup_spans=8).collect()
    }
    assert got["https://a.example/1"] == f"{run} original body here"
    assert got["https://a.example/2"] == "other intro other outro"
    assert got["https://a.example/3"] is None


def test_quality_filter_full_explicit_threshold_is_lazy(spark):
    """Plan construction always trains the LM (bounded count-table
    collects — inherent), but an explicit ppl_threshold must add ZERO
    jobs beyond that; the None path runs the mid-pipeline approxQuantile
    on top (the full-scan action --ppl-threshold-from-snapshot avoids),
    so it must cost strictly more driver jobs on the same input."""
    from harvesttext_spark.pipeline import synthesize_pages
    from harvesttext_spark.pipeline.quality_filter import quality_filter_full

    pages = synthesize_pages(spark, n=60, seed=9)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("qff_lazy", "explicit threshold plan build")
    quality_filter_full(pages, ppl_threshold=123.0)
    lazy_jobs = tracker.getJobIdsForGroup("qff_lazy")
    sc.setJobGroup("qff_eager", "None threshold plan build")
    quality_filter_full(pages, ppl_threshold=None)
    eager_jobs = tracker.getJobIdsForGroup("qff_eager")
    sc.setJobGroup(None, None)

    assert len(eager_jobs) > len(lazy_jobs), (
        f"None-threshold path should pay extra quantile job(s): "
        f"explicit={sorted(lazy_jobs)} none={sorted(eager_jobs)}"
    )


def test_job_ppl_threshold_from_snapshot(spark, tmp_path):
    """Scheduled-run contract: a --with-lm run records its ppl p99 in
    run_stats.json; the next run consumes it via
    --ppl-threshold-from-snapshot (no mid-pipeline quantile — the
    stderr note must be absent) and records the applied value."""
    import json
    import os
    import subprocess
    import sys

    from harvesttext_spark.pipeline import synthesize_pages

    inp = str(tmp_path / "pages")
    synthesize_pages(spark, n=150, seed=13).write.parquet(inp)
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8", "PYTHONPATH": os.getcwd()}

    out1 = str(tmp_path / "day1")
    p1 = subprocess.run(
        [sys.executable, "jobs/run_quality_filter.py",
         "--input", inp, "--output", out1, "--with-lm"],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert p1.returncode == 0, p1.stderr[-2000:]
    assert "no --ppl-threshold" in p1.stderr  # bootstrap run pays the pass
    stats1 = json.load(open(out1 + "/run_stats.json"))
    assert stats1["ppl_p99"] is not None and stats1["ppl_threshold_applied"] is None

    out2 = str(tmp_path / "day2")
    p2 = subprocess.run(
        [sys.executable, "jobs/run_quality_filter.py",
         "--input", inp, "--output", out2, "--with-lm",
         "--ppl-threshold-from-snapshot", out1],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert p2.returncode == 0, p2.stderr[-2000:]
    assert "no --ppl-threshold" not in p2.stderr  # no quantile pass
    stats2 = json.load(open(out2 + "/run_stats.json"))
    assert stats2["ppl_threshold_applied"] == stats1["ppl_p99"]
    # both flags at once must refuse
    p3 = subprocess.run(
        [sys.executable, "jobs/run_quality_filter.py",
         "--input", inp, "--output", str(tmp_path / "day3"), "--with-lm",
         "--ppl-threshold", "50", "--ppl-threshold-from-snapshot", out1],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert p3.returncode != 0
    assert "mutually exclusive" in p3.stderr


def test_zh_policy_seg_makes_zh_stages_fire(spark, tmp_path):
    """--zh-policy-seg (round 6): toxicity density and benchmark
    decontamination are whitespace-token stages, so unsegmented zh text
    is ONE giant token and both silently score 0.  With the flag, the
    dict-DAG cutter segments text (and the benchmark file) first: the
    same fixture must flip from untouched to dropped, and the scratch
    column must not leak into the output schema."""
    import datetime as dt

    import pytest

    from jobs.run_quality_filter import build_policy_fn, parse_args

    def args(*argv):
        return parse_args(["--output", str(tmp_path / "out"), *argv])

    lex = tmp_path / "tox_zh.txt"
    lex.write_text("暴力\n")
    bench = tmp_path / "bench_zh.txt"
    bench.write_text("世界杯决赛在今晚举行\n")

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("https://zh.example/tox", ts, "这个游戏充满暴力内容", True, None),
        ("https://zh.example/leak", ts, "据报道世界杯决赛在今晚举行谢谢", True, None),
        ("https://zh.example/ok", ts, "城市交通拥堵问题需要长期规划", True, None),
    ]
    labeled = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text_clean string, keep boolean, drop_reason string"
    )

    # whitespace path: zh text is one token -> nothing fires
    token_stages = (
        "--max-toxicity", "0.0", "--toxicity-lexicon", str(lex),
        "--decontaminate", str(bench), "--decontaminate-ngram", "2",
    )
    plain = build_policy_fn(args(*token_stages))(labeled)
    assert {r["drop_reason"] for r in plain.collect()} == {None}
    assert plain.filter("toxicity > 0").count() == 0

    # composed path: segmentation first -> both stages fire
    seg = build_policy_fn(args(*token_stages, "--zh-policy-seg"))(labeled)
    got = {r["url"]: r["drop_reason"] for r in seg.collect()}
    assert got["https://zh.example/leak"] == "contaminated"
    assert got["https://zh.example/tox"] == "toxicity"
    assert got["https://zh.example/ok"] is None
    assert "_policy_seg" not in seg.columns
    # density computed over SEGMENTED tokens (暴力 is 1 of 5)
    tox = {r["url"]: r["toxicity"] for r in seg.collect()}
    assert abs(tox["https://zh.example/tox"] - 0.2) < 1e-9

    # flag without either token stage must refuse
    with pytest.raises(SystemExit):
        args("--zh-policy-seg")


def test_fix_mojibake_stage(spark):
    """--fix-mojibake pre-pass: UTF-8-as-cp1252 damage repairs (incl.
    the sloppy 0x9D case and one level of double-encoding via chain
    composition), clean text passes byte-identical, NULL stays NULL,
    and every generated pair round-trips (pattern == sloppy-cp1252 view
    of the target's UTF-8 bytes, so the chain inverts the real-world
    corruption exactly)."""
    import datetime as dt

    from jobs.run_quality_filter import apply_pre_passes
    from harvesttext_spark.functions.mojibake import MOJIBAKE_PAIRS, _sloppy_cp1252

    for moji, fixed in MOJIBAKE_PAIRS:
        assert moji == _sloppy_cp1252(fixed.encode("utf-8"))
        assert len(moji) > len(fixed)  # metric counts chars removed

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("https://m.example/1", ts, "CafÃ© â€” itâ€™s â€œfineâ€\x9d"),
        ("https://m.example/2", ts, "already clean — café “fine”"),
        ("https://m.example/3", ts, None),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    got = {
        r["url"]: r["text"]
        for r in apply_pre_passes(df, fix_mojibake=True).collect()
    }
    assert got["https://m.example/1"] == "Café — it’s “fine”"
    assert got["https://m.example/2"] == "already clean — café “fine”"
    assert got["https://m.example/3"] is None


def test_stage_dir_lineage_cut_matches_persist_path(spark, tmp_path):
    """--stage-dir: every pre-pass stage materializes as parquet and is
    re-read (true lineage cut — the 100 TB shape).  Output rows must be
    IDENTICAL to the in-memory persist path, and the stage tables must
    exist on disk for lineage audits."""
    import os

    from pyspark.sql import functions as F

    from harvesttext_spark.pipeline import synthesize_pages
    from jobs.run_quality_filter import apply_pre_passes

    pages = synthesize_pages(spark, n=200, seed=17)
    kw = dict(
        fix_mojibake=True, url_dedup=True, boilerplate_min_df=3,
        dedup_paragraphs=True, cut_dup_spans=8, exact_dedup=True,
        minhash_jaccard=0.8,
    )
    key = lambda r: (r["url"], r["text"])
    mem = sorted(map(key, apply_pre_passes(pages, **kw).select("url", "text").collect()))
    sd = str(tmp_path / "stages")
    disk = sorted(
        map(key, apply_pre_passes(pages, stage_dir=sd, **kw).select("url", "text").collect())
    )
    assert mem == disk and len(mem) > 0
    stages = sorted(d for d in os.listdir(sd) if d.startswith("stage_"))
    assert len(stages) >= 5  # url, boiler, paragraph, cutspans, exact, minhash/union
    # each stage is a complete readable parquet table
    assert spark.read.parquet(sd + "/" + stages[0]).count() > 0


def test_in_memory_pre_passes_cut_lineage(spark):
    """Without --stage-dir every pre-pass stage still truncates lineage:
    the result's logical plan is a leaf, not the upstream tree.  Persisted
    stages kept that tree in every later plan (a 640K-char analyzed plan
    on this input), until plan analysis alone ran a 2g driver out of
    heap."""
    from harvesttext_spark.pipeline import synthesize_pages
    from jobs.run_quality_filter import apply_pre_passes

    pages = synthesize_pages(spark, n=200, seed=17)
    out = apply_pre_passes(
        pages, fix_mojibake=True, url_dedup=True, boilerplate_min_df=3,
        dedup_paragraphs=True, cut_dup_spans=8, exact_dedup=True,
        minhash_jaccard=0.8,
    )
    plan = out._jdf.queryExecution().logical()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert out.count() > 0


def test_in_memory_model_stages_cut_lineage(spark, tmp_path, capsys):
    """Two model stages without --stage-dir: apply_model_stages cuts the
    input and each stage, so the result's plan is a leaf; each cut
    releases the one before it, so the session holds one stage table
    however many stages ran; and each cut prints a numbered stderr line
    (the in-memory path once printed "# model_stage_?" for all of them)."""
    import json

    from harvesttext_spark.pipeline import synthesize_pages
    from harvesttext_spark.pipeline.quality_filter import quality_filter
    from jobs.run_quality_filter import apply_model_stages, parse_args

    spec = tmp_path / "mix.json"
    spec.write_text(json.dumps({"fractions": {"en": 0.5, "zh": 0.5}}))
    labeled = quality_filter(synthesize_pages(spark, n=200, seed=17))
    labeled.count()  # materialize upstream caches before counting persists
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    args = parse_args(
        ["--output", str(tmp_path / "out"), "--domain-reputation-min-rate",
         "0.05", "--mixture-spec", str(spec)]
    )
    out = apply_model_stages(labeled, args)
    plan = out._jdf.queryExecution().logical()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert jsc.getPersistentRDDs().size() - before <= 1
    assert out.filter("keep").count() > 0
    cuts = [
        ln.split(":")[0] for ln in capsys.readouterr().err.splitlines()
        if ln.startswith("# model_stage")
    ]
    assert cuts == ["# model_stage_00", "# model_stage_01", "# model_stage_02"]
    plan.rdd().unpersist(False)


def test_hash_split_deterministic_and_leakage_safe(spark):
    """Curation split contract: membership is a pure function of (id,
    seed) — identical across partitionings and runs; fractions land
    within tolerance; duplicate ids share a split (no eval leakage);
    NULL ids get NULL; sample_by_hash composes consistently (a kept id
    stays kept at any higher rate)."""
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.curation import hash_split, sample_by_hash

    ids = [(f"https://d{i % 97}.example/p/{i}",) for i in range(5000)] + [(None,)]
    df = spark.createDataFrame(ids, "url string")
    fr = {"train": 0.9, "eval": 0.08, "holdout": 0.02}
    a = {r["url"]: r["split"] for r in hash_split(df, fr).collect()}
    b = {
        r["url"]: r["split"]
        for r in hash_split(df.repartition(17), fr).collect()
    }
    assert a == b  # partitioning-independent
    assert a[None] is None
    counts = {}
    for v in a.values():
        counts[v] = counts.get(v, 0) + 1
    assert abs(counts["train"] / 5000 - 0.9) < 0.02
    assert abs(counts["eval"] / 5000 - 0.08) < 0.02
    assert counts.get(None, 0) == 1
    # duplicate ids share a split
    dup = df.unionByName(df.limit(100))
    per_id = (
        hash_split(dup, fr)
        .filter("url IS NOT NULL")
        .groupBy("url")
        .agg(F.countDistinct("split").alias("n"))
    )
    assert per_id.filter("n > 1").count() == 0
    # different seed reshuffles membership
    c = {r["url"]: r["split"] for r in hash_split(df, fr, seed=7).collect()}
    assert c != a
    # sample_by_hash monotone: kept at 10% => kept at 30%
    s10 = {r["url"] for r in sample_by_hash(df, 0.10).collect()}
    s30 = {r["url"] for r in sample_by_hash(df, 0.30).collect()}
    assert s10 <= s30
    assert abs(len(s10) / 5000 - 0.10) < 0.02
    import pytest

    with pytest.raises(ValueError):
        hash_split(df, {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError):
        sample_by_hash(df, 1.5)


def test_hash_split_rounded_bounds_cover_full_ppm_range(spark):
    """Per-fraction round() on {1/3, 1/3, 1/3} leaves the last cumulative
    bound at 999999 unless clamped — an id hashing to ppm 999999 would
    silently get NULL split and fall out of every split.  'gap1561274'
    hashes to exactly ppm 999999 under seed 42 (found by search), so this
    pins the clamp with a witness, not a probability."""
    from harvesttext_spark.operators.curation import hash_split

    thirds = {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}
    df = spark.createDataFrame([("gap1561274",), ("x1",), (None,)], "url string")
    out = {r["url"]: r["split"] for r in hash_split(df, thirds).collect()}
    assert out["gap1561274"] == "c"  # the gap id lands in the LAST split
    assert out["x1"] is not None
    assert out[None] is None
