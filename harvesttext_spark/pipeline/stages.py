"""The quality-filter job's optional stages, one ordered table per phase:
``PRE_PASSES`` over the raw pages (domain blocklist, mojibake repair, the
dedup pre-passes), ``POLICY_STAGES`` over the labeled rows (per-row filters
and scrubs against fixed inputs) and ``MODEL_STAGES`` after them (the
corpus-relative models and quotas, then packing).  Each stage is defined
once, here: the options that turn it on, how it is built, why --resume
refuses it and, by its place in its table, when it runs.  Each table has
one runner: ``apply_pre_passes``, ``build_policy_fn``, ``apply_model_stages``.
"""

from __future__ import annotations

import json
import sys
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from harvesttext_spark.operators.dedup import (
    _estimated_rows,
    drop_boilerplate_lines,
    drop_duplicate_paragraphs,
    drop_exact_dups,
    drop_near_dups,
    drop_url_dups,
    flag_dups_against,
    minhash_dup_pairs,
    token_shingles,
)
from harvesttext_spark.pipeline.quality_filter import domain_col


def given(args, flag):
    """Whether ``flag`` was given: its value is not the None/False default."""
    v = getattr(args, flag[2:].replace("-", "_"))
    return v is not None and v is not False


@dataclass(frozen=True)
class Stage:
    """One optional stage.  ``build(args)`` reads any driver-side file
    once and returns the stage as ``df -> df``, so the buckets --resume
    reprocesses see identical inputs.  ``corpus_relative`` is why --resume
    refuses the stage (None: it works per row).  The runners read the
    rest: ``cut`` materializes the stage's output as a lineage cut
    (pre-passes and model stages); a pre-pass with ``needs_unique_url``
    gets url-unique input, which a ``makes_unique_url`` stage gives; a
    ``text_only`` pre-pass sees only rows with text (see
    apply_pre_passes)."""

    name: str
    flags: tuple[str, ...]
    build: Callable
    corpus_relative: str | None = None
    cut: bool = False
    needs_unique_url: bool = False
    makes_unique_url: bool = False
    text_only: bool = False

    def enabled(self, args):
        return any(given(args, f) for f in self.flags)


class _Cuts:
    """One sequence of lineage cuts: ``cut(df, name)`` materializes ``df``
    and returns a frame whose plan is a leaf over the result.  With
    ``stage_dir`` it writes parquet to ``stage_dir/<prefix>_NN`` and
    re-reads it (durable, auditable); otherwise it takes an eager
    localCheckpoint() and releases the previous cut of this sequence once
    the new one is materialized.  A released checkpoint cannot be
    recomputed, so the caller cuts only where nothing built later still
    reads the previous cut.  Each cut prints one numbered stderr line with
    its wall time and the name of the stage it ends: the cut materializes
    the whole stage, so that is the stage's cost."""

    def __init__(self, stage_dir, prefix):
        self.stage_dir, self.prefix = stage_dir, prefix
        self.n = 0
        self.prev = None

    def __call__(self, df, name):
        t0 = time.time()
        seq = f"{self.prefix}_{self.n:02d}"
        self.n += 1
        if self.stage_dir is not None:
            path = f"{self.stage_dir}/{seq}"
            df.write.mode("overwrite").parquet(path)
            out = df.sparkSession.read.parquet(path)
        else:
            out = df.localCheckpoint(eager=True)
            if self.prev is not None:
                self.prev._jdf.queryExecution().logical().rdd().unpersist(False)
            self.prev = out
        print(f"# {seq}: {time.time() - t0:.1f}s {name}", file=sys.stderr, flush=True)
        return out


def _drop_kept(df, *rules):
    """Every drop stage's relabel: a row still kept takes the reason of the
    first ``(condition, reason)`` rule it meets as its drop_reason, and
    keep follows drop_reason (NULL = kept)."""
    reason = F  # F.when starts the CASE, Column.when extends it
    for cond, name in rules:
        reason = reason.when(F.col("keep") & cond, F.lit(name))
    return df.withColumn(
        "drop_reason", reason.otherwise(F.col("drop_reason"))
    ).withColumn("keep", F.col("drop_reason").isNull())


def _join_flags(labeled, flags, key, rule, *drop):
    """Left-join a stage's per-url ``flags`` (url in column ``key``) onto
    ``labeled``, relabel by the ``(condition, reason)`` rule and drop
    ``key`` and the ``drop`` helper columns."""
    return (
        labeled.join(flags, labeled["url"] == flags[key], "left")
        .transform(_drop_kept, rule)
        .drop(key, *drop)
    )


def _bpe_counts(kept, id_col, n_merges):
    """``kept`` with an ``n_bpe_tokens`` column: the subword count of its
    text_clean under a BPE vocabulary trained on it (operators/bpe.py)."""
    from harvesttext_spark.operators.bpe import bpe_tokenize, train_bpe

    model = train_bpe(
        kept.select(F.coalesce(F.col("text_clean"), F.lit("")).alias("_t")),
        text_col="_t",
        n_merges=n_merges,
    )
    counts = bpe_tokenize(kept, model, text_col="text_clean", id_col=id_col).select(
        F.col("doc_id").alias(id_col), "n_bpe_tokens"
    )
    return kept.join(counts, id_col)


def apply_toxicity_filter(labeled, terms, max_toxicity, text_col="text_clean"):
    """--max-toxicity: kept docs whose toxic-term density over the CLEANED
    text exceeds the threshold become drop_reason=toxicity; the density
    lands in a ``toxicity`` column as a stage metric.  Per-row Arrow map
    (operators/sentiment.toxicity_udf) — zero shuffle, no url-uniqueness
    precondition.  NULL density (no tokens) is below any threshold: an
    empty doc can't be toxic (and is already dropped upstream anyway)."""
    from harvesttext_spark.operators.sentiment import toxicity_udf

    return (
        labeled.withColumn("toxicity", toxicity_udf(terms)(F.col(text_col)))
        .transform(
            _drop_kept,
            (F.coalesce(F.col("toxicity"), F.lit(0.0)) > max_toxicity, "toxicity"),
        )
    )


def apply_script_mix_filter(labeled, min_dominant_frac, text_col="text_clean"):
    """--min-dominant-script-frac: kept docs whose dominant content
    script (han/latin/cyrillic/arabic/digit/punct char classes,
    functions/textstats.script_mix_signals) covers less than the
    threshold fraction of CLEANED chars become drop_reason=script_mix —
    the CCNet/RefinedWeb charset-composition rule catching wrong-charset
    decodes and script-mixing spam.  ``dominant_script`` and
    ``dominant_frac`` land as stage-metric columns.  Pure codegen on the
    row — zero shuffle.  NULL text reports dominant 'none'/frac 0.0 but
    is already dropped upstream."""
    from harvesttext_spark.functions.textstats import script_mix_signals

    sig = script_mix_signals(F.col(text_col))
    return (
        labeled.withColumn("dominant_script", sig["dominant_script"])
        .withColumn("dominant_frac", F.round(sig["dominant_frac"], 6))
        .transform(
            _drop_kept,
            (
                F.coalesce(F.col("dominant_frac"), F.lit(0.0)) < min_dominant_frac,
                "script_mix",
            ),
        )
    )


def apply_c4_line_filter(
    labeled, min_words=5, min_sentences=3, text_col="text_clean"
):
    """--c4-line-filter: the C4 battery (Raffel et al. 2020 §2.2,
    functions/c4.py) over kept rows' cleaned text — lines failing the
    terminal-punct / min-words / javascript rules are removed from
    ``text_col``; pages with braces, "lorem ipsum", or fewer than
    ``min_sentences`` surviving sentences drop as c4_brace / c4_lorem /
    c4_short_page.  Pure codegen per row; dropped rows keep their
    ORIGINAL text for audit."""
    from harvesttext_spark.functions.c4 import c4_signals

    sig = c4_signals(F.col(text_col), min_words)
    df = (
        labeled.withColumn("_c4_text", sig["text_c4"])
        .withColumn("_c4_sent", sig["n_sentences"])
        .withColumn("c4_lines_total", sig["n_lines"])
        .withColumn("c4_lines_kept", sig["n_lines_kept"])
        .withColumn("_c4_brace", sig["has_curly"])
        .withColumn("_c4_lorem", sig["has_lorem_ipsum"])
    )
    df = _drop_kept(
        df,
        (F.col("_c4_brace"), "c4_brace"),
        (F.col("_c4_lorem"), "c4_lorem"),
        (F.col("_c4_sent") < min_sentences, "c4_short_page"),
    )
    return (
        df.withColumn(
            text_col,
            F.when(F.col("keep"), F.col("_c4_text")).otherwise(F.col(text_col)),
        )
        .drop("_c4_text", "_c4_sent", "_c4_brace", "_c4_lorem")
    )


def apply_fineweb_filter(
    labeled,
    punct_ratio=None,
    short_ratio=None,
    dup_ratio=None,
    text_col="text_clean",
):
    """--fineweb-filter: the FineWeb line-ratio battery (Penedo et al.
    2024 §3.6, functions/fineweb.py) over kept rows' cleaned text —
    pages whose terminal-punct line ratio is too low, whose short-line
    ratio is too high, or whose duplicated-line char ratio is too high
    drop as fineweb_punct / fineweb_short_lines / fineweb_dup_lines
    (first failing rule wins, in that order).  Pure codegen per row; the
    three ratios land as stage-metric columns."""
    from harvesttext_spark.functions import fineweb as fw

    punct_ratio = fw.PUNCT_RATIO if punct_ratio is None else punct_ratio
    short_ratio = fw.SHORT_RATIO if short_ratio is None else short_ratio
    dup_ratio = fw.DUP_RATIO if dup_ratio is None else dup_ratio
    df = labeled.withColumn("_fw_lines", fw.fineweb_lines(F.col(text_col)))
    sig = fw.fineweb_signals(
        F.col("_fw_lines"), punct_ratio, short_ratio, dup_ratio
    )
    df = (
        df.withColumn("fineweb_punct_frac", sig["frac_lines_end_punct"])
        .withColumn("fineweb_short_frac", sig["frac_lines_short"])
        .withColumn("fineweb_dup_frac", sig["frac_chars_dup_lines"])
        .drop("_fw_lines")
    )
    return _drop_kept(
        df,
        (~(F.col("fineweb_punct_frac") > punct_ratio), "fineweb_punct"),
        (F.col("fineweb_short_frac") >= short_ratio, "fineweb_short_lines"),
        (F.col("fineweb_dup_frac") >= dup_ratio, "fineweb_dup_lines"),
    )


def apply_dsir_select(labeled, target, keep_frac, seed=42):
    """--dsir-keep-frac + --dsir-target-path: DSIR importance resampling
    (Xie et al. 2023, operators/dsir.py) over the KEPT rows' cleaned
    text — keep ≈ keep_frac of them, favoring pages whose hashed-ngram
    distribution matches the target corpus; the rest become
    drop_reason=dsir.  ``dsir_logw`` lands as a stage-metric column.
    Precondition: url is unique among kept rows (run
    the dedup pre-passes first); duplicate urls would fan out the
    weight join."""
    from harvesttext_spark.operators.dsir import dsir_weights, gumbel_key

    # target distribution from the EXTERNAL corpus, raw from the kept set
    kept = labeled.filter(F.col("keep")).select(
        F.col("url").alias("_durl"), F.col("text_clean")
    )
    w = dsir_weights(kept, target, text_col="text_clean", id_col="_durl")
    keyed = w.withColumn("_dkey", F.col("logw") + gumbel_key(F.col("_durl"), seed))
    # quantile action + flags join both consume keyed: persist the per-doc
    # keys or the whole weight pipeline (two corpus tokenizations) reruns
    from harvesttext_spark.session import plan_keyed_persist

    keyed = plan_keyed_persist(keyed, "dsir_keys")
    if keep_frac >= 1.0:
        tau = float("-inf")
    else:
        tau = keyed.approxQuantile("_dkey", [1.0 - keep_frac], 0.001)[0]
    flags = keyed.select(
        "_durl",
        F.round("logw", 6).alias("dsir_logw"),
        (F.col("_dkey") >= F.lit(tau)).alias("_dkeep"),
    )
    rule = (~F.coalesce(F.col("_dkeep"), F.lit(True)), "dsir")
    return _join_flags(labeled, flags, "_durl", rule, "_dkeep")


def apply_cross_snapshot_dedup(labeled, index_path, text_col="text_clean"):
    """--dedup-against: drop kept pages whose cleaned text near-matches
    the PREVIOUS run's corpus via its persisted MinHash band index
    (operators/dedup.py snapshot_band_index / flag_dups_against —
    written by --export-dedup-index at OUTPUT/dedup_index) —
    incremental dump-over-dump dedup without re-reading last dump's
    text.  drop_reason=cross_snapshot_dup.  Per-row against a FIXED
    external index."""
    prior = labeled.sparkSession.read.parquet(index_path)
    flags = flag_dups_against(
        labeled.select(
            F.col("url"), F.coalesce(F.col(text_col), F.lit("")).alias("_t")
        ),
        prior,
        text_col="_t",
        id_col="url",
    ).select(F.col("id").alias("_xurl"), "cross_dup")
    rule = (F.coalesce(F.col("cross_dup"), F.lit(False)), "cross_snapshot_dup")
    return _join_flags(labeled, flags, "_xurl", rule, "cross_dup")


def apply_domain_reputation_filter(labeled, min_rate, prior_strength=None):
    """--domain-reputation-min-rate: per-domain Beta-Binomial shrunk
    keep-rate over THIS run's labels (operators/domain_reputation.py) —
    every page of a domain whose shrunk rate falls below ``min_rate``
    drops as domain_reputation, including pages the per-page rules kept
    (link farms produce individually-plausible pages).  The shrinkage
    prior (κ pseudo-pages of global rate) keeps 2-page domains from
    being judged on 2 pages.  ``domain_shrunk_rate`` lands as a
    stage-metric column.  One domain-keyed agg + an AQE-planned join
    back — the salted domain_metrics rollup is unaffected."""
    from harvesttext_spark.operators.domain_reputation import (
        PRIOR_STRENGTH,
        apply_domain_reputation,
    )

    df = labeled.withColumn("_dr_domain", domain_col("url"))
    df = apply_domain_reputation(
        df,
        min_rate,
        domain_col="_dr_domain",
        keep_col="keep",
        prior_strength=PRIOR_STRENGTH if prior_strength is None else prior_strength,
    )
    return _drop_kept(
        df, (~F.col("domain_reputation_keep"), "domain_reputation")
    ).drop("_dr_domain", "domain_reputation_keep")


def apply_quality_classifier(
    labeled, min_prob, text_col="text_clean", calibrate=False, keep_frac=None
):
    """--quality-classifier-min-prob: distill the cascade into a single
    calibrated scorer (operators/quality_classifier.py, the CCNet
    fastText recipe with the cascade's own keep/drop labels as the
    training signal), then drop KEPT pages whose quality probability
    falls below ``min_prob`` (drop_reason=quality_classifier) — pages
    that survived every individual rule but still LOOK like the dropped
    population.  ``quality_prob`` lands as a stage-metric column on
    every row.  Raises when the cascade produced only one class (nothing
    to distill).  Precondition: url unique (run the dedup pre-passes
    first).

    ``calibrate=True`` (--quality-classifier-calibrate) additionally
    fits the distributed isotonic calibrator on the same labels
    (operators/quality_classifier.train_isotonic_calibrator — the
    calibration-curve follow-through: raw NB probabilities measured
    2e-5 predicted vs 0.386 observed, so a raw-probability threshold is
    meaningless) and applies ``min_prob`` to the CALIBRATED probability
    instead; both columns land as stage metrics.

    ``keep_frac`` (--quality-classifier-keep-frac, alternative to
    ``min_prob``) is BUDGET-FIRST selection: keep the top fraction of
    currently-kept pages by classifier rank via the 64-bin log-odds
    cutoff (operators/quality_classifier.threshold_for_keep_rate —
    one constant-cardinality histogram, deterministic), the "keep the
    best X%" form published recipes actually specify."""
    from harvesttext_spark.operators.quality_classifier import (
        CAL_LODDS_HI,
        CAL_LODDS_LO,
        CAL_N_BINS,
        _lodds_bin,
        apply_calibration,
        score_quality,
        threshold_for_keep_rate,
        train_isotonic_calibrator,
        train_quality_classifier,
    )

    train = labeled.select(
        F.col("keep").alias("label"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    )
    weights, params = train_quality_classifier(
        train, label_col="label", text_col="_t", persist=True
    )
    scored = score_quality(
        labeled.select("url", F.coalesce(F.col(text_col), F.lit("")).alias("_t")),
        weights,
        params,
        text_col="_t",
        id_col="url",
    )
    prob_col, extra = "quality_prob", []
    if calibrate:
        joined = scored.join(
            labeled.select(
                F.col("url").alias("doc_id"), F.col("keep").alias("label")
            ),
            "doc_id",
        )
        calib = train_isotonic_calibrator(
            joined, label_col="label", lodds_col="quality_lodds"
        )
        scored = apply_calibration(scored, calib)
        prob_col, extra = "quality_prob_cal", ["quality_prob_cal"]
    if keep_frac is not None:
        kept_scored = scored.join(
            labeled.filter(F.col("keep")).select(F.col("url").alias("doc_id")),
            "doc_id",
        )
        sel = threshold_for_keep_rate(kept_scored, keep_frac)
        bin_col = _lodds_bin(
            F.col("quality_lodds"), CAL_N_BINS, CAL_LODDS_LO, CAL_LODDS_HI
        )
        drop_pred = bin_col < sel["bin_cut"]
    else:
        drop_pred = F.coalesce(F.col(prob_col), F.lit(0.0)) < min_prob
    scored = scored.select(
        F.col("doc_id").alias("_qurl"),
        F.col("quality_lodds"),
        F.col("quality_prob"),
        *extra,
    )
    return _join_flags(
        labeled, scored, "_qurl", (drop_pred, "quality_classifier"), "quality_lodds"
    )


def apply_edu_filter(labeled, teacher_path, min_score, text_col="text_clean"):
    """--edu-min-score: FineWeb-Edu-style scored distillation
    (operators/edu_scorer.py) — train the smoothed target-encoding
    student on an EXTERNAL teacher parquet (--edu-teacher-path: any
    table with a text/text_clean column and a teacher/score double
    column in [0, 5]), then drop KEPT pages whose integer grade falls
    below ``min_score`` (drop_reason=edu_score).  ``edu_score`` lands
    as a stage-metric column on every row.  The model depends ONLY on
    the fixed external teacher file, per-row thereafter."""
    from harvesttext_spark.operators.edu_scorer import (
        score_edu,
        train_edu_scorer,
    )

    spark = labeled.sparkSession
    teacher = spark.read.parquet(teacher_path)
    tcol = "text_clean" if "text_clean" in teacher.columns else "text"
    scol = "teacher" if "teacher" in teacher.columns else "score"
    if tcol not in teacher.columns or scol not in teacher.columns:
        raise SystemExit(
            "--edu-teacher-path needs text/text_clean and teacher/score columns"
        )
    scores, params = train_edu_scorer(
        teacher.select(F.col(scol).alias("teacher"), F.col(tcol).alias("_t")),
        text_col="_t",
        persist=True,
    )
    scored = score_edu(
        labeled.select("url", F.coalesce(F.col(text_col), F.lit("")).alias("_t")),
        scores,
        params,
        text_col="_t",
        id_col="url",
        min_score=min_score,
    ).select(F.col("doc_id").alias("_eurl"), "edu_score", "edu_int")
    rule = (F.coalesce(F.col("edu_int"), F.lit(0)) < min_score, "edu_score")
    return _join_flags(labeled, scored, "_eurl", rule, "edu_int")


def apply_semdedup(
    labeled,
    threshold,
    n_clusters=None,
    max_cluster=1000,
    text_col="text_clean",
    centroid_mode="fixture",
):
    """--semdedup-threshold: embedding-space semantic dedup of the kept
    set (operators/semdedup.py, Abbas et al. 2023) — deterministic
    signed word-hash embeddings (one Arrow pass), coarse clusters from
    the md5 centroid fixture, within-cluster keep-first at the cosine
    threshold; survivors are the lexicographically-smallest urls
    (drop_reason=semantic_dup).  Blank pages bypass (a zero vector has
    no cosine; the cascade already labels them).  ``n_clusters``
    defaults to a constant ~100-member target cluster size (pair work
    linear in N); ``max_cluster`` (default 1000) caps each member's
    reference set — REQUIRED robustness, not an optimization: template-
    heavy corpora collapse onto few centroids, and a measured 1M-member
    hot cluster made the uncapped gram scan need 8 TB / 6e16 flops
    while the capped one stays linear.  ``centroid_mode='trained'``
    (--semdedup-centroids) swaps the md5 fixture planes + residual
    split for seeded spherical k-means centroids (see inline note)."""
    from harvesttext_spark.operators.semdedup import (
        semdedup,
        word_hash_embedding_udf,
    )
    from harvesttext_spark.operators.similarity import fixture_centroids

    kept = labeled.filter(
        F.col("keep") & (F.length(F.coalesce(F.col(text_col), F.lit(""))) > 0)
    ).select("url", F.col(text_col).alias("_t"))
    if n_clusters is None:
        # constant TARGET cluster size (~100 members): pair work is then
        # N * C / 2 — LINEAR in corpus size (a sqrt(N) cluster count
        # would make it N^1.5).  None estimate -> assume the at-scale
        # shape (dedup._estimated_rows bias rule).  The 2^16 fixture cap
        # means clusters regrow past ~6.5M kept pages — at that scale
        # pass --semdedup-clusters with trained centroids' cardinality
        # or rely on max_cluster_df-style capping (SemDedup itself is
        # O(N*C) only while C is held constant).
        est = _estimated_rows(kept) or 1_000_000
        n_clusters = max(8, min(1 << 16, int(max(est, 1) / 100)))
    dim = 64
    vecs = kept.select("url", word_hash_embedding_udf(dim)(F.col("_t")).alias("_v"))
    if centroid_mode == "trained":
        # data-adapted coarse quantizer (round 8, VERDICT #2): seeded
        # spherical k-means on a bounded md5-ordered sample.  Trained
        # centroids spread the corpus's actual cone across clusters, so
        # the level-2 residual split (a symptom patch for random planes
        # that all argmax alike on tight cones) is unnecessary — exact
        # copies co-locate under ANY centroids, and balanced clusters
        # keep them inside each other's max_cluster reference window.
        # Costs one extra embedding pass over the kept set (the sample
        # top-N scan); max_cluster stays as the degenerate backstop.
        from harvesttext_spark.operators.semdedup import train_semdedup_centroids

        cents = train_semdedup_centroids(
            vecs, n_clusters, vec_col="_v", id_col="url"
        )
        split_kw = {}
    else:
        cents = fixture_centroids(
            labeled.sparkSession, dim=dim, n_centroids=n_clusters
        )
        # hot clusters (template floods, tight embedding cones) get a
        # level-2 residual split before the scan — exact copies always
        # co-locate; max_cluster remains the degenerate-subcluster backstop
        l2 = fixture_centroids(
            labeled.sparkSession, dim=dim, n_centroids=256, plane_base=9500
        )
        split_kw = {"split_threshold": max_cluster, "split_centroids": l2}
    flags = semdedup(
        vecs, cents, threshold=threshold, id_col="url", vec_col="_v",
        max_cluster_df=max_cluster, **split_kw,
    ).select(F.col("vec_id").alias("_surl"), "semdedup_keep")
    rule = (~F.coalesce(F.col("semdedup_keep"), F.lit(True)), "semantic_dup")
    return _join_flags(labeled, flags, "_surl", rule, "semdedup_keep")


def apply_mixture(labeled, spec):
    """--mixture-spec: static mixture sampling of the kept set
    (operators/mixture.py) — the post-filter "data mixing" step.  The
    spec (the parsed JSON file) names the grouping column and target
    fractions: ``{"group_by": "lang_pred", "fractions": {"en": 0.6, ...},
    "budget_frac": 0.5}`` (budget_frac optional).  Kept rows hashed out
    of the sample become drop_reason=mixture; groups absent from the
    spec drop entirely."""
    from harvesttext_spark.operators.mixture import sample_to_mixture

    group_by = spec.get("group_by", "lang_pred")
    fractions = spec["fractions"]
    budget = float(spec.get("budget_frac", 1.0))
    max_repeat = int(spec.get("max_repeat", 1))
    kept = labeled.filter(F.col("keep")).select(
        "url", F.col(group_by).alias("_g")
    )
    flags = sample_to_mixture(
        kept, fractions, group_col="_g", id_col="url", budget_frac=budget,
        max_repeat=max_repeat,
    ).select(F.col("url").alias("_murl"), "mix_keep", "mix_copies")
    return (
        labeled.join(flags, labeled["url"] == flags["_murl"], "left")
        .transform(_drop_kept, (~F.coalesce(F.col("mix_keep"), F.lit(True)), "mixture"))
        # epoch-repeat count survives to the output (export explodes by
        # it when max_repeat > 1); dropped rows carry NULL
        .withColumn(
            "mix_copies",
            F.when(F.col("keep"), F.coalesce(F.col("mix_copies"), F.lit(1))),
        )
        .drop("_murl", "mix_keep")
    )


def apply_packing(labeled, max_tokens, tokenizer="ws", bpe_merges=8000):
    """--pack-max-tokens: assign every KEPT doc a (pack_shard, pack_bin)
    training-sequence id via sharded first-fit-decreasing over cleaned-
    text token counts (operators/packing.py) — the export step between
    curation and tokenization.  Dropped rows get NULL pack columns.
    Deterministic on any partitioning; metadata-only shuffle (the text
    never moves through the packing exchange).

    ``tokenizer='bpe'`` (--pack-tokenizer) first trains a BPE
    vocabulary on the kept text (operators/bpe.py) and packs on REAL
    subword counts instead of whitespace words — whitespace counts
    under-estimate the training-token budget on long-word / non-latin
    text, so ws-packed bins can overflow the model's actual context."""
    from harvesttext_spark.operators.packing import pack_sequences

    kept = labeled.filter(F.col("keep")).select(
        F.col("url").alias("_purl"), F.col("text_clean")
    )
    token_count_col = None
    if tokenizer == "bpe":
        kept, token_count_col = _bpe_counts(kept, "_purl", bpe_merges), "n_bpe_tokens"
    packed = pack_sequences(
        kept,
        max_tokens,
        id_col="_purl",
        text_col="text_clean",
        token_count_col=token_count_col,
    ).select("_purl", "pack_shard", "pack_bin", "pack_tokens", "oversize")
    return labeled.join(
        packed, labeled["url"] == packed["_purl"], "left"
    ).drop("_purl")


def build_pack_manifest(labeled, max_tokens, tokenizer="ws", bpe_merges=8000):
    """--pack-max-tokens composing with --mixture-spec: when mixture
    up-sampling emitted ``mix_copies``, the training export needs one
    packed sequence slot PER EPOCH COPY — a doc with mix_copies=3 must
    occupy three (possibly different) bins.  Per-row pack columns can't
    express that, so this branch writes a separate OUTPUT/pack_manifest
    table instead: (url, mix_copy, pack_shard, pack_bin, pack_tokens,
    oversize), one row per copy (operators/packing.pack_epochs — copy
    ordinal salted into the deterministic shard hash, no rand()).  The
    export reader joins text back by url.  BPE counts are computed once
    per distinct doc (epoch copies share the count), exactly like
    apply_packing."""
    from harvesttext_spark.operators.packing import pack_epochs

    kept = labeled.filter(F.col("keep")).select(
        "url", "text_clean", F.coalesce(F.col("mix_copies"), F.lit(1)).alias("_mc")
    )
    token_count_col = None
    if tokenizer == "bpe":
        kept, token_count_col = _bpe_counts(kept, "url", bpe_merges), "n_bpe_tokens"
    return pack_epochs(
        kept,
        max_tokens,
        id_col="url",
        copies_col="_mc",
        text_col="text_clean",
        token_count_col=token_count_col,
    )


def apply_url_risk_filter(labeled, max_risk, keywords=None):
    """--max-url-risk: kept docs whose url risk-keyword score exceeds the
    threshold become drop_reason=url_risk (RefinedWeb-style URL
    filtering).  Pure column math on the row — no join, no shuffle, no
    uniqueness precondition; the score lands in a url_risk metric
    column."""
    from harvesttext_spark.functions.urls import URL_RISK_KEYWORDS, url_risk_score

    kws = tuple(keywords) if keywords else URL_RISK_KEYWORDS
    return (
        labeled.withColumn("url_risk", url_risk_score(F.col("url"), kws))
        .transform(_drop_kept, (F.col("url_risk") > max_risk, "url_risk"))
    )


def apply_decontamination(labeled, bench_texts, n=13, text_col="text_clean"):
    """--decontaminate: kept docs sharing a case-folded token n-gram with
    the benchmark set become drop_reason=contaminated (GPT-3/Pile-style
    eval decontamination, applied post-label so parity gates stay
    reference-faithful and lineage records WHY a page left).  The marker
    frame is a DISTINCT url set, so the left join cannot fan out even on
    duplicate urls."""
    from harvesttext_spark.operators.decontamination import _bench_shingles

    spark = labeled.sparkSession
    bench = spark.createDataFrame([(t,) for t in bench_texts], "text string")
    bs = _bench_shingles(bench, n, "text")
    bad = (
        labeled.select(
            "url",
            F.explode(token_shingles(F.lower(F.col(text_col)), n)).alias("s"),
        )
        .join(F.broadcast(bs), "s")
        .select("url")
        .distinct()
        .withColumn("_cont", F.lit(True))
    )
    return (
        labeled.join(bad, "url", "left")
        .transform(
            _drop_kept,
            (F.coalesce(F.col("_cont"), F.lit(False)), "contaminated"),
        )
        .drop("_cont")
    )


def apply_lang_whitelist(labeled, langs):
    """--keep-langs: kept docs whose predicted language is outside the
    whitelist become drop_reason=lang_filtered.  NULL-safe: lang_pred
    NULL makes isin() NULL, and a bare ``keep & ~NULL`` condition would
    silently let unknown-language docs bypass the whitelist — a language
    filter must drop docs whose language could not be determined, so
    NULL coalesces to not-whitelisted."""
    return _drop_kept(
        labeled,
        (~F.coalesce(F.col("lang_pred").isin(langs), F.lit(False)), "lang_filtered"),
    )


def _lines(path):
    """A driver-side list file's non-blank lines, stripped."""
    with open(path) as fh:
        return [ln.strip() for ln in fh if ln.strip()]


def _read_json(path):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def mix_repeats(args):
    """Whether --mixture-spec up-samples (max_repeat > 1)."""
    if args.mixture_spec is None:
        return False
    return int(_read_json(args.mixture_spec).get("max_repeat", 1)) > 1


def _block_domains(args):
    """Drop pages whose domain is listed: a broadcast anti-join, the
    blocklist being a dimension."""
    with open(args.block_domains, encoding="utf-8") as f:
        blocked = [
            ln.strip().lower() for ln in f if ln.strip() and not ln.startswith("#")
        ]

    def apply(pages):
        bl = pages.sparkSession.createDataFrame([(d,) for d in blocked], "domain string")
        return pages.withColumn("_dom", F.lower(domain_col())).join(
            F.broadcast(bl).withColumnRenamed("domain", "_dom"), "_dom", "left_anti"
        ).drop("_dom")

    return apply


def _fix_mojibake(args):
    from harvesttext_spark.functions import mojibake

    return lambda df: df.withColumn("text", mojibake.fix_mojibake(F.col("text")))


def _boilerplate(args):
    def apply(pages):
        cleaned = drop_boilerplate_lines(
            pages, text_col="text", id_col="url", min_df=args.drop_boilerplate
        ).withColumnRenamed("text_clean", "_debo")
        return (
            pages.join(cleaned, "url", "left")
            .withColumn("text", F.coalesce("_debo", "text"))
            .drop("_debo")
        )

    return apply


def _dedup_text(df):
    """A text-rewriting pass's ``text_dedup`` output as the new ``text``."""
    return df.drop("text").withColumnRenamed("text_dedup", "text")


def _dedup_paragraphs(args):
    return lambda df: _dedup_text(
        drop_duplicate_paragraphs(df, text_col="text", id_col="url")
    )


def _dup_spans(args):
    from harvesttext_spark.operators.substring_dedup import cut_duplicate_spans

    return lambda df: _dedup_text(
        cut_duplicate_spans(df, k=args.cut_dup_spans, text_col="text", id_col="url")
    )


def _exact_dedup(args):
    return lambda df: drop_exact_dups(df, text_col="text", id_col="url")


def _minhash_dedup(args):
    def apply(nn):
        pairs = minhash_dup_pairs(
            nn, text_col="text", id_col="url", min_jaccard=args.minhash_dedup,
            shingle_sample_mod=args.minhash_sample_mod,
        )
        return drop_near_dups(nn, pairs, id_col="url")

    return apply


# In run order.  The dedup passes follow the CC pipeline: url dedup, then
# corpus boilerplate-line removal, then text dedup — after the boilerplate
# pass, so pages differing only in chrome become identical and collapse.
PRE_PASSES = (
    Stage("block_domains", ("--block-domains",), _block_domains),
    # first text stage: every later one (dedup keys, battery, policy) sees
    # repaired text.  A narrow per-row map that rides the scan
    Stage("fix_mojibake", ("--fix-mojibake",), _fix_mojibake),
    Stage("url_dedup", ("--url-dedup",), lambda a: drop_url_dups, cut=True, makes_unique_url=True),
    # the boilerplate, paragraph and span censuses group by url: with
    # duplicate urls, lines of different rows would interleave into one
    # merged text and fan back onto every duplicate row
    Stage("boilerplate", ("--drop-boilerplate",), _boilerplate, cut=True, needs_unique_url=True),
    Stage(
        "dedup_paragraphs", ("--dedup-paragraphs",), _dedup_paragraphs, cut=True,
        needs_unique_url=True,
    ),
    Stage("cut_dup_spans", ("--cut-dup-spans",), _dup_spans, cut=True, needs_unique_url=True),
    Stage("exact_dedup", ("--exact-dedup",), _exact_dedup, cut=True, text_only=True),
    Stage("minhash_dedup", ("--minhash-dedup",), _minhash_dedup, text_only=True),
)


def _policy_text_col(args):
    """The column the token-matching policy stages read."""
    return "_policy_seg" if args.zh_policy_seg else "text_clean"


def _zh_policy_seg(args):
    from harvesttext_spark.functions.tokenize import zh_cut_join_udf

    return lambda df: df.withColumn(
        "_policy_seg", zh_cut_join_udf()(F.col("text_clean"))
    )


def _keep_langs(args):
    langs = [x.strip() for x in args.keep_langs.split(",") if x.strip()]
    return lambda df: apply_lang_whitelist(df, langs)


def _url_risk(args):
    kws = None
    if args.url_risk_keywords:
        kws = [kw.lower() for kw in _lines(args.url_risk_keywords)]
    return lambda df: apply_url_risk_filter(df, args.max_url_risk, kws)


def _decontaminate(args):
    bench_texts = _lines(args.decontaminate)
    if args.zh_policy_seg:
        # the benchmark side must tokenize IDENTICALLY to the corpus side,
        # so segment it with the same cutter (driver side — the benchmark
        # file is a bounded local input)
        from harvesttext_spark.functions.tokenize import base_cut

        bench_texts = [" ".join(base_cut(t)) for t in bench_texts]
    return lambda df: apply_decontamination(
        df, bench_texts, n=args.decontaminate_ngram, text_col=_policy_text_col(args)
    )


def _toxicity(args):
    terms = _lines(args.toxicity_lexicon)
    return lambda df: apply_toxicity_filter(
        df, terms, args.max_toxicity, text_col=_policy_text_col(args)
    )


def _pii_scrub(args):
    from harvesttext_spark.operators.linking import scrub_pii_regex

    return lambda df: df.withColumn("text_clean", scrub_pii_regex(F.col("text_clean")))


def _scrub_words(args):
    from harvesttext_spark.operators.linking import EntityKB, scrub_text

    kb = EntityKB()
    with open(args.scrub_words, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            term, _, typ = line.partition("\t")
            kb.add(term, term, typ or "sensitive")
    return lambda df: (
        scrub_text(df, kb, text_col="text_clean")
        .drop("text_clean")
        .withColumnRenamed("text_scrubbed", "text_clean")
    )


# In run order.
POLICY_STAGES = (
    # segment ONCE into a scratch column the token-matching stages share;
    # the last stage drops it, so the output schema is unchanged
    Stage("zh_policy_seg", ("--zh-policy-seg",), _zh_policy_seg),
    # first content-policy stage: the band join trims the kept set before
    # the costlier token-matching stages
    Stage(
        "dedup_against",
        ("--dedup-against",),
        lambda a: lambda df: apply_cross_snapshot_dedup(df, a.dedup_against),
    ),
    Stage("keep_langs", ("--keep-langs",), _keep_langs),
    Stage("url_risk", ("--max-url-risk",), _url_risk),
    Stage(
        "c4_line_filter",
        ("--c4-line-filter",),
        lambda a: lambda df: apply_c4_line_filter(
            df, min_words=a.c4_min_words, min_sentences=a.c4_min_sentences
        ),
    ),
    Stage(
        "fineweb_filter",
        ("--fineweb-filter",),
        lambda a: lambda df: apply_fineweb_filter(
            df,
            punct_ratio=a.fineweb_punct_ratio,
            short_ratio=a.fineweb_short_ratio,
            dup_ratio=a.fineweb_dup_ratio,
        ),
    ),
    Stage(
        "edu_score",
        ("--edu-min-score",),
        lambda a: lambda df: apply_edu_filter(df, a.edu_teacher_path, a.edu_min_score),
    ),
    # cheapest policy stage (pure codegen) — runs before the token-matching
    # stages so the common drop happens first
    Stage(
        "script_mix",
        ("--min-dominant-script-frac",),
        lambda a: lambda df: apply_script_mix_filter(df, a.min_dominant_script_frac),
    ),
    Stage("decontaminate", ("--decontaminate",), _decontaminate),
    Stage("toxicity", ("--max-toxicity",), _toxicity),
    # after labeling: keep/drop and the byte-parity gates see the
    # reference-faithful battery output; redaction only changes what ships
    Stage("pii_scrub", ("--pii-scrub",), _pii_scrub),
    Stage("scrub_words", ("--scrub-words",), _scrub_words),
    Stage(
        "zh_policy_seg_drop", ("--zh-policy-seg",),
        lambda a: lambda df: df.drop("_policy_seg"),
    ),
)


def _dsir(args):
    def apply(labeled):
        target = labeled.sparkSession.read.parquet(args.dsir_target_path)
        tcol = "text_clean" if "text_clean" in target.columns else "text"
        target = target.select(F.col(tcol).alias("text_clean"))
        return apply_dsir_select(labeled, target, args.dsir_keep_frac)

    return apply


def _mixture(args):
    spec = _read_json(args.mixture_spec)
    return lambda df: apply_mixture(df, spec)


def _packing(args):
    kw = dict(tokenizer=args.pack_tokenizer, bpe_merges=args.bpe_merges)
    if not mix_repeats(args):
        return lambda df: apply_packing(df, args.pack_max_tokens, **kw)

    # epoch-aware export: one pack slot per (doc, mix copy) in
    # OUTPUT/pack_manifest; the main table keeps its one-row-per-doc shape
    # (see build_pack_manifest).  With max_repeat == 1 every copy count is
    # 1 and the per-row pack columns express the assignment exactly, so
    # the plain path keeps its schema
    def manifest(labeled):
        build_pack_manifest(labeled, args.pack_max_tokens, **kw).write.mode(
            "overwrite"
        ).parquet(args.output + "/pack_manifest")
        return labeled

    return manifest


# In run order: the corpus-relative models and quotas, then packing, which
# is not cut (only the output write reads it).
MODEL_STAGES = (
    Stage(
        "domain_reputation",
        ("--domain-reputation-min-rate",),
        lambda a: lambda df: apply_domain_reputation_filter(
            df, a.domain_reputation_min_rate, prior_strength=a.domain_reputation_strength
        ),
        corpus_relative="domain rates depend on the run's full label census",
        cut=True,
    ),
    Stage(
        "quality_classifier",
        ("--quality-classifier-min-prob", "--quality-classifier-keep-frac"),
        lambda a: lambda df: apply_quality_classifier(
            df,
            a.quality_classifier_min_prob,
            calibrate=a.quality_classifier_calibrate,
            keep_frac=a.quality_classifier_keep_frac,
        ),
        corpus_relative="the distilled classifier depends on the run's full "
        "label balance",
        cut=True,
    ),
    Stage(
        "semdedup",
        ("--semdedup-threshold",),
        lambda a: lambda df: apply_semdedup(
            df,
            a.semdedup_threshold,
            n_clusters=a.semdedup_clusters,
            centroid_mode=a.semdedup_centroids,
        ),
        corpus_relative="cluster membership and smaller-url comparisons depend "
        "on the run's full kept set",
        cut=True,
    ),
    Stage(
        "dsir", ("--dsir-keep-frac",), _dsir, cut=True,
        corpus_relative="the DSIR raw model depends on the run's full kept set",
    ),
    Stage(
        "mixture", ("--mixture-spec",), _mixture, cut=True,
        corpus_relative="per-group keep rates depend on the run's full kept counts",
    ),
    Stage(
        "packing", ("--pack-max-tokens",), _packing,
        corpus_relative="bin composition depends on the run's full kept set",
    ),
)

STAGES = PRE_PASSES + POLICY_STAGES + MODEL_STAGES


def apply_pre_passes(pages, args):
    """Run the enabled PRE_PASSES over ``pages``, each ``cut`` stage
    ending in a lineage cut (``stage_NN``).

    Before the first ``needs_unique_url`` stage an exact-url dedup (no
    canonicalization: the page set is unchanged) is cut, unless
    --url-dedup already ran.  NULL-text (html-only) pages bypass the
    ``text_only`` stages — md5(NULL) would group every such page into one
    digest and delete all but one — and rejoin after the last pre-pass,
    to take the null_text/html-decode path per url.

    Every dedup stage reads its input through 2-3 branches (line census +
    explode + join-back; digest winners + semi-join; signature + pair
    graph + anti-join), so an uncut chain recomputes upstream lineage once
    per branch, MULTIPLICATIVELY across stages (1.2M pages, local[32]: the
    lazy chain ran 50x slower than the filter alone).  The cut must
    TRUNCATE lineage, not just cache: a persisted stage keeps its upstream
    plan inside every later one (every flag on, 200 synthesized pages,
    local[4]: a 640K-char analyzed plan, 1.5 GB of heap and 123 s, against
    a 67-char leaf, 0.18 GB and 21 s checkpointed; a 2g heap ran out).  In
    memory one stage's checkpoint is held at a time (all four deserialized
    blew an 8g heap at 1.2M pages); --stage-dir writes each stage as
    parquet instead, so the stage tables survive executor loss and the
    session for lineage audits and memory holds none — the 100 TB shape,
    and the choice on a lossy cluster."""
    from pyspark import StorageLevel

    cut = _Cuts(args.stage_dir, "stage")
    unique, nulls = False, None
    for st in [st for st in PRE_PASSES if st.enabled(args)]:
        if st.needs_unique_url and not unique:
            pages = cut(drop_url_dups(pages, canonicalize=False), "url_unique")
            unique = True
        if st.text_only and nulls is None:
            # materialize the (tiny) null-text split BEFORE a cut releases
            # its parent — otherwise the union would read a released
            # checkpoint to re-find the html-only rows
            nulls = pages.filter(F.col("text").isNull()).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            nulls.count()
            pages = pages.filter(F.col("text").isNotNull())
        pages = st.build(args)(pages)
        if st.cut:
            pages = cut(pages, st.name)
        unique = unique or st.makes_unique_url
    if nulls is not None:
        # materialize the union through the stage protocol, then release
        # the nulls split too, keeping memory bounded as stated above
        pages = cut(pages.unionByName(nulls), "null_text_union")
        nulls.unpersist()
    return pages


def build_policy_fn(args):
    """Compose the enabled POLICY_STAGES into ONE ``labeled -> labeled``
    function, used by BOTH the full-run and --resume paths.  Every stage
    is built here, once, so its files are read driver side once and
    reprocessed tail buckets see identical inputs; parse_args has
    already checked the flags.  Policy stages are never cut."""
    fns = [st.build(args) for st in POLICY_STAGES if st.enabled(args)]

    def policy_fn(labeled):
        for fn in fns:
            labeled = fn(labeled)
        return labeled

    return policy_fn


def apply_model_stages(labeled, args):
    """Run the enabled MODEL_STAGES over ``labeled``.  With two or more
    on, the input and each ``cut`` stage's output are cut (``model_stage_NN``);
    a single stage stays lazy.  Like a dedup pre-pass, every model stage
    reads its input through 2-3 branches (train + score + join-back; domain
    agg + join-back; embed + scan + join-back; rate table + hash filter):
    five uncut stages blew an 8g driver heap on plan analysis alone, and
    persist does NOT help (CacheManager re-normalizes the full analyzed tree
    per registration).  These cuts are their own sequence: they never
    release the last pre-pass cut, which quality_filter_full's persisted
    labels still read."""
    on = [st for st in MODEL_STAGES if st.enabled(args)]
    cut = _Cuts(args.stage_dir, "model_stage") if len(on) > 1 else (lambda df, name: df)
    labeled = cut(labeled, "input")
    for st in on:
        labeled = st.build(args)(labeled)
        if st.cut:
            labeled = cut(labeled, st.name)
    return labeled
