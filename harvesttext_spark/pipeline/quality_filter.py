"""The flagship pipeline: language-ID + quality-filter + scrub over a
Common-Crawl-style pages table (BASELINE.json north_rule).

Stages (one Spark job, no shuffle until the metrics aggregation):
  1. extract  — prefer `text`; fall back to UTF-8 decode of `html` binary
                (the tag-removal pass of the battery strips markup).
  2. scrub    — the full HarvestText clean_text battery as ONE Arrow-batched
                pandas UDF (byte-identical contract; functions/cleaning.py).
  3. signals  — Catalyst-native quality features + marker-based langid
                (functions/textstats.py) — whole-stage codegen.
  4. label    — deterministic keep/drop cascade with a drop_reason.
  5. metrics  — per-partition lineage rows + per-domain stats via SALTED
                two-level aggregation (Zipfian domains; AQE skew handling
                covers joins, not groupBy hot keys — the salt is ours).

Keep/drop rule-set (the engine spec; also implemented single-threaded in
tests/reference_impl.py to produce "reference labels" for the F1≥0.99 gate):
    null_text      no text and no decodable html
    too_short      len(text_clean) < 20
    char_run       a single char repeated ≥10 times
    low_alnum      alnum+CJK chars / total chars < 0.45
    low_diversity  ≥20 tokens and distinct/total tokens < 0.30
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harvesttext_spark.functions.cleaning import make_clean_text_udf
from harvesttext_spark.functions.textstats import lang_id, quality_signals

MIN_CHARS = 20
MAX_CHAR_RUN = 10
MIN_ALNUM_RATIO = 0.45
MIN_DISTINCT_RATIO = 0.30
DIVERSITY_MIN_TOKENS = 20


def extract_text(pages: DataFrame) -> DataFrame:
    """Prefer the pre-extracted text column; else decode html binary.
    Column pruning: downstream never touches `html` when `text` is set —
    Catalyst still scans it for the coalesce, so at 100TB the real input
    should be written with text materialized (as Common Crawl WET does)."""
    return pages.withColumn(
        "raw_text",
        F.coalesce(F.col("text"), F.decode(F.col("html"), "UTF-8")),
    )


def scrub(
    df: DataFrame, text_col: str = "raw_text", fast_path: bool = False, **clean_flags
) -> DataFrame:
    """Cleaning battery.  ``fast_path=True`` (default battery flags only)
    routes pure-ASCII rows through the Catalyst-native regexp chain —
    zero Python for the latin majority of a real crawl — and only the
    non-ASCII remainder through the Arrow UDF.  Equivalence of the two
    paths on ASCII input is property-tested (tests/test_fast_path.py);
    byte-parity holds because every divergent corner (astral planes, zh
    @mention classes, CJK stop terms) requires a non-ASCII char."""
    clean_udf = make_clean_text_udf(**clean_flags)
    if not fast_path or clean_flags:
        return df.withColumn("text_clean", clean_udf(F.col(text_col)))

    from harvesttext_spark.functions.cleaning import clean_text_native_frame

    # SINGLE-SCAN routing (the round-2 union re-scanned the input once per
    # branch — no scan sharing across union sides — and lost the native
    # win).  One pass over the data:
    #   * the native chain runs on an ASCII-masked copy (non-ASCII/null rows
    #     are NULL -> every regex pass is a null no-op), as a linear chain
    #     of Projects (clean_text_native_frame: the inline expression form
    #     blew janino's 64KB method limit next to the extracted UDF and
    #     fell back to interpreted eval of a 3^n tree, ~40x slower);
    #   * the Arrow UDF runs on the complementary mask — mostly-NULL input,
    #     na_action="ignore" -> zero Python work per ASCII row and NULLs
    #     are ~free to ship via Arrow;
    #   * coalesce routes: battery output for non-ASCII rows, native for
    #     the rest.  The battery never returns NULL for non-NULL input
    #     (clean() ends in .strip(), '' at worst), so this is exact.
    is_ascii = F.col(text_col).rlike("^[\\x00-\\x7F]*$")
    df = df.withColumn(
        "__ascii_text", F.when(F.col(text_col).isNotNull() & is_ascii, F.col(text_col))
    )
    df = clean_text_native_frame(df, "__ascii_text", "__native_clean")
    non_ascii = F.when(
        F.col(text_col).isNotNull() & F.col("__ascii_text").isNull(), F.col(text_col)
    )
    return df.withColumn(
        "text_clean", F.coalesce(clean_udf(non_ascii), F.col("__native_clean"))
    ).drop("__ascii_text", "__native_clean")


def label(df: DataFrame, text_col: str = "text_clean") -> DataFrame:
    sig = quality_signals(F.col(text_col))
    df = df.withColumn("lang_pred", lang_id(F.col(text_col)))
    for name, col in sig.items():
        df = df.withColumn(f"q_{name}", col)
    drop_reason = (
        F.when(F.col(text_col).isNull(), F.lit("null_text"))
        .when(F.col("q_n_chars") < MIN_CHARS, F.lit("too_short"))
        .when(F.col("q_char_run10"), F.lit("char_run"))
        .when(F.col("q_alnum_ratio") < MIN_ALNUM_RATIO, F.lit("low_alnum"))
        .when(
            (F.col("q_n_tokens") >= DIVERSITY_MIN_TOKENS)
            & (F.col("q_distinct_token_ratio") < MIN_DISTINCT_RATIO),
            F.lit("low_diversity"),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("drop_reason", drop_reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )


def quality_filter(pages: DataFrame, **clean_flags) -> DataFrame:
    """pages -> (url, warc_ts, lang, text_clean, lang_pred, q_*, keep,
    drop_reason).  Pure map-side — a single stage at any scale."""
    return label(scrub(extract_text(pages), **clean_flags))


MAX_DUP_LINE_FRAC = 0.30
MAX_TOP_BIGRAM_CHAR_FRAC = 0.20
# the rest of the Gopher table-A1 repetition thresholds (Rae et al. 2021)
MAX_TOP_TRIGRAM_CHAR_FRAC = 0.18
MAX_TOP_FOURGRAM_CHAR_FRAC = 0.16
MAX_DUP_5GRAM_CHAR_FRAC = 0.15
MAX_DUP_10GRAM_CHAR_FRAC = 0.10
# Gopher's repetition thresholds assume full web pages; on a short doc a
# SINGLE occurrence of one bigram can exceed 20% of the characters, and
# unguarded the rule dropped 145/300 clean synthetic pages (measured).
# Below this floor the fractions aren't evidence of repetition.
MIN_REPETITION_CHARS = 200


def quality_filter_full(
    pages: DataFrame,
    ppl_threshold: float | None = None,
    langid_weights=None,
    langid_stats=None,
    repetition_rules: bool = False,
    gopher_ngram_rules: bool = False,
    **clean_flags,
) -> DataFrame:
    """Extended pipeline (north_star): heuristics + KenLM-style perplexity
    + (optionally) the trained hashed-ngram language ID and the Gopher
    repetition rules.

    * ppl over text_clean, self-trained on the kept-candidate corpus; docs
      with ppl above `ppl_threshold` (or above the 99th percentile when
      None) get drop_reason 'high_ppl' unless already dropped.
      At 100 TB pass an EXPLICIT ppl_threshold: the None default computes
      an approxQuantile mid-pipeline — a driver action that forces one
      extra full pass over the joined frame before the job's real sink.
      The job path's scheduled-run default is
      ``--ppl-threshold-from-snapshot PREV_OUTPUT`` (each full run
      records its ppl p99 in run_stats.json via one column-pruned scan
      of the output it just wrote); with a non-None threshold this
      function adds ZERO driver jobs beyond the inherent LM-training
      collects (pinned by
      test_quality_filter_full_explicit_threshold_is_lazy).
    * when a trained langid model is provided, lang_pred comes from it
      (margin column included); else the marker heuristic stands.
    * repetition_rules=True adds the Gopher repetition drops over
      text_clean: 'high_dup_lines' (dup_line_frac > 0.30) and
      'high_top_bigram' (top_bigram_char_frac > 0.20), again only for
      docs the earlier stages kept.
    * gopher_ngram_rules=True adds the REST of Gopher table A1 over
      text_clean: 'high_top_trigram' (> 0.18), 'high_top_fourgram'
      (> 0.16), 'high_dup_5gram' (> 0.15), 'high_dup_10gram' (> 0.10),
      with the same 200-char floor.
    The base keep/drop contract (F1 vs reference labels) is unchanged for
    docs the heuristics already decide; the extra stages only ADD drops.
    """
    labeled = quality_filter(pages, **clean_flags)
    # Materialize the labeled frame ONCE before the model stages: the
    # repetition join, the LM train+score pass, and the final joins each
    # re-derive from `labeled`, so without this the battery recomputes
    # 3x — and with fast_path the duplicated native chain (thousands of
    # expression nodes) blows up Catalyst optimization superlinearly
    # (measured: >240s driver-side hang inside cacheQuery at 400 rows).
    # MEMORY_AND_DISK spills at 100 TB like any staged pipeline table.
    from harvesttext_spark.session import plan_keyed_persist

    labeled = plan_keyed_persist(labeled, "qf_full_labeled")
    if repetition_rules:
        from harvesttext_spark.functions.textstats import repetition_signals

        rep = repetition_signals(
            labeled.select(F.col("url").alias("doc_id"), F.col("text_clean").alias("text")),
        ).withColumnRenamed("doc_id", "url")
        labeled = (
            labeled.join(
                rep.select("url", "dup_line_frac", "top_bigram_char_frac"),
                "url",
                "left",
            )
            .withColumn(
                "drop_reason",
                F.when(
                    F.col("keep")
                    & (F.length("text_clean") >= MIN_REPETITION_CHARS)
                    & (F.col("dup_line_frac") > MAX_DUP_LINE_FRAC),
                    F.lit("high_dup_lines"),
                )
                .when(
                    F.col("keep")
                    & (F.length("text_clean") >= MIN_REPETITION_CHARS)
                    & (F.col("top_bigram_char_frac") > MAX_TOP_BIGRAM_CHAR_FRAC),
                    F.lit("high_top_bigram"),
                )
                .otherwise(F.col("drop_reason")),
            )
            .withColumn("keep", F.col("drop_reason").isNull())
        )

    if gopher_ngram_rules:
        from harvesttext_spark.functions.textstats import repetition_ngram_signals

        rn = repetition_ngram_signals(
            labeled.select(F.col("url").alias("doc_id"), F.col("text_clean").alias("text")),
        ).withColumnRenamed("doc_id", "url")
        floor = F.length("text_clean") >= MIN_REPETITION_CHARS
        labeled = (
            labeled.join(rn, "url", "left")
            .withColumn(
                "drop_reason",
                F.when(
                    F.col("keep") & floor
                    & (F.col("top_3gram_char_frac") > MAX_TOP_TRIGRAM_CHAR_FRAC),
                    F.lit("high_top_trigram"),
                )
                .when(
                    F.col("keep") & floor
                    & (F.col("top_4gram_char_frac") > MAX_TOP_FOURGRAM_CHAR_FRAC),
                    F.lit("high_top_fourgram"),
                )
                .when(
                    F.col("keep") & floor
                    & (F.col("dup_5gram_char_frac") > MAX_DUP_5GRAM_CHAR_FRAC),
                    F.lit("high_dup_5gram"),
                )
                .when(
                    F.col("keep") & floor
                    & (F.col("dup_10gram_char_frac") > MAX_DUP_10GRAM_CHAR_FRAC),
                    F.lit("high_dup_10gram"),
                )
                .otherwise(F.col("drop_reason")),
            )
            .withColumn("keep", F.col("drop_reason").isNull())
        )

    from harvesttext_spark.operators.lm_perplexity import perplexity_signal

    docs = labeled.select(F.col("url").alias("doc_id"), F.col("text_clean").alias("text"))
    ppl = perplexity_signal(docs, text_col="text", id_col="doc_id").withColumnRenamed(
        "doc_id", "url"
    )
    out = labeled.join(ppl.select("url", "ppl"), "url", "left")
    if ppl_threshold is None:
        ppl_threshold = out.approxQuantile("ppl", [0.99], 0.01)[0] or float("inf")
    out = out.withColumn(
        "drop_reason",
        F.when(
            F.col("keep") & (F.col("ppl") > ppl_threshold), F.lit("high_ppl")
        ).otherwise(F.col("drop_reason")),
    ).withColumn("keep", F.col("drop_reason").isNull())

    if langid_weights is not None and langid_stats is not None:
        from harvesttext_spark.operators.langid_model import predict_langid

        pred = predict_langid(
            out.select(F.col("url").alias("doc_id"), F.col("text_clean").alias("text")),
            langid_weights,
            langid_stats,
            text_col="text",
            id_col="doc_id",
        ).withColumnRenamed("doc_id", "url")
        out = out.drop("lang_pred").join(
            pred.select("url", "lang_pred", "margin"), "url", "left"
        )
    return out


# --- metrics / lineage ----------------------------------------------------

DOMAIN_RE = "^https?://([^/]+)/.*$"
N_SALTS = 16


def domain_col(url: str = "url") -> F.Column:
    return F.regexp_extract(F.col(url), DOMAIN_RE, 1)


def domain_metrics(labeled: DataFrame, n_salts: int = N_SALTS) -> DataFrame:
    """Per-domain keep/drop stats via salted two-level aggregation.

    Level 1 groups on (domain, salt) — the Zipf-head domain's rows split
    across `n_salts` reducers; level 2 merges the tiny partials.

    Honest scope note: for ALGEBRAIC aggregates (count/sum/avg) Spark's
    map-side partial aggregation already collapses hot keys before the
    shuffle, so the salt mainly buys insurance when partial agg is
    ineffective (very high per-partition key cardinality causes hash-map
    fallback) — and it is the REQUIRED pattern for the non-algebraic
    per-domain aggregates this table grows at scale (exact distinct
    snapshots, reservoir samples, collect_set of drop reasons).  AQE's
    skew handling covers joins, not groupBy keys.
    """
    salted = labeled.select(
        domain_col().alias("domain"),
        F.col("keep"),
        F.length("text_clean").alias("clean_len"),
        (F.crc32(F.col("url")) % n_salts).alias("_salt"),
    )
    partial = salted.groupBy("domain", "_salt").agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum("clean_len").alias("sum_len"),
    )
    return (
        partial.groupBy("domain")
        .agg(
            F.sum("n").alias("n_docs"),
            F.sum("n_keep").alias("n_keep"),
            (F.sum("sum_len") / F.sum("n")).alias("avg_clean_len"),
        )
        .withColumn("keep_rate", F.col("n_keep") / F.col("n_docs"))
    )


def domain_metrics_full(labeled: DataFrame, n_salts: int = N_SALTS) -> DataFrame:
    """domain_metrics + the model-based quality rollups (north_star's
    "per-partition lineage and stage metrics"): per-domain mean KenLM-style
    perplexity and n-gram coherence joined onto the keep/drop stats.

    ``labeled`` is a quality_filter_full output: ``avg_ppl`` is the mean
    of its per-doc ``ppl`` column, the perplexity the filter's self-trained
    LM gave each doc, so this rollup trains no second LM over the same
    corpus.

    Shuffle shape at 100 TB: coherence needs one stats-broadcast pass over
    the docs, the domain rollup reuses the SAME salted two-level
    aggregation as domain_metrics (Zipf-head domains split across n_salts
    reducers), and the final join is domain-cardinality — tiny, broadcast
    by AQE."""
    from harvesttext_spark.operators.word_discovery import doc_coherence

    base = domain_metrics(labeled, n_salts)
    docs = labeled.select(
        F.col("url").alias("doc_id"), F.col("text_clean").alias("text")
    )
    sig = labeled.select(F.col("url").alias("doc_id"), "ppl").join(
        doc_coherence(docs).select("doc_id", "mean_log_agg"), "doc_id", "left"
    )
    salted = sig.select(
        domain_col("doc_id").alias("domain"),
        "ppl",
        "mean_log_agg",
        (F.crc32(F.col("doc_id")) % n_salts).alias("_salt"),
    )
    partial = salted.groupBy("domain", "_salt").agg(
        F.sum("ppl").alias("s_ppl"),
        F.count("ppl").alias("n_ppl"),
        F.sum("mean_log_agg").alias("s_coh"),
        F.count("mean_log_agg").alias("n_coh"),
    )
    rolled = partial.groupBy("domain").agg(
        (F.sum("s_ppl") / F.sum("n_ppl")).alias("avg_ppl"),
        (F.sum("s_coh") / F.sum("n_coh")).alias("avg_coherence"),
    )
    return base.join(rolled, "domain", "left")


def domain_drop_samples(
    labeled: DataFrame,
    k: int = 5,
    n_salts: int = N_SALTS,
    by_reason: bool = False,
) -> DataFrame:
    """(domain, rnk, url, drop_reason): up to ``k`` example dropped pages
    per domain, chosen as the k smallest md5(url) — a DETERMINISTIC
    reservoir (no rand(), repo rule) for drop-triage dashboards at scale.

    This is the non-algebraic aggregate the domain_metrics docstring
    promises the salted shape for: map-side partial top-k per
    (domain, salt) bounds state to k rows per salt BEFORE the final
    shuffle, so the Zipf-head domain never funnels its full drop list
    to one reducer; level 2 merges n_salts * k rows per domain.

    ``by_reason=True`` samples per (domain, drop_reason) instead — the
    triage-dashboard grain (k examples of EACH failure mode per
    domain); same two-level shape, same determinism."""
    keys = ["domain", "drop_reason"] if by_reason else ["domain"]
    dropped = labeled.filter(~F.col("keep")).select(
        domain_col().alias("domain"),
        F.col("drop_reason"),
        F.struct(
            F.md5(F.col("url")).alias("h"),
            F.col("url").alias("url"),
            F.col("drop_reason").alias("reason"),
        ).alias("s"),
        (F.crc32(F.col("url")) % n_salts).alias("_salt"),
    )
    partial = dropped.groupBy(*keys, "_salt").agg(
        F.slice(F.array_sort(F.collect_list("s")), 1, k).alias("part")
    )
    merged = (
        partial.select(*keys, F.explode("part").alias("s"))
        .groupBy(*keys)
        .agg(F.slice(F.array_sort(F.collect_list("s")), 1, k).alias("top"))
    )
    out = merged.select(*keys, F.posexplode("top").alias("rnk", "s"))
    if by_reason:
        return out.select(
            "domain", "drop_reason", "rnk", F.col("s.url").alias("url")
        )
    return out.select(
        "domain",
        "rnk",
        F.col("s.url").alias("url"),
        F.col("s.reason").alias("drop_reason"),
    )


def partition_lineage(labeled: DataFrame) -> DataFrame:
    """Per-input-partition lineage row: the audit trail the resume story
    anti-joins against (partition id, doc count, keep count, min/max url)."""
    return (
        labeled.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        )
    )
