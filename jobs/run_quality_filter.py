"""Production entry point — run the quality-filter pipeline via
spark-submit (north rule: "run via spark-submit --py-files on a
multi-executor cluster"):

    cd /root/repo && zip -r /tmp/htspark.zip harvesttext_spark
    spark-submit --py-files /tmp/htspark.zip \
        jobs/run_quality_filter.py \
        --input  <pages parquet/iceberg path> \
        --output <output dir>  [--resume] [--buckets 4096] \
        [--with-lm] [--repetition-rules] [--url-dedup] \
        [--drop-boilerplate MIN_DF] [--fast-path] \
        [--ppl-threshold X] [--synthesize N]

Cluster sizing is owned by spark-submit (--num-executors et al.); the job
never hardcodes a master.  With --resume, work restarts from the output
manifest (idempotent bucket commits — see pipeline/resume.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def apply_pre_passes(
    pages,
    url_dedup: bool = False,
    boilerplate_min_df: int | None = None,
    exact_dedup: bool = False,
    minhash_jaccard: float | None = None,
    cut_dup_spans: int | None = None,
    minhash_sample_mod: int | None = None,
    dedup_paragraphs: bool = False,
    fix_mojibake: bool = False,
    stage_dir: str | None = None,
):
    """The optional dedup pre-passes, CC-pipeline order: URL-level dedup,
    then corpus boilerplate-line removal, then text-level dedup (exact,
    then MinHash near-dup) — text dedup runs AFTER the boilerplate pass
    so pages differing only in chrome become identical and collapse.
    Factored out of main() so the wiring (NOT just the operators) is
    testable in-process.

    NULL-text pages (html-only) bypass the text dedup stages entirely:
    md5(NULL) would group every such page into one digest and silently
    delete all but one — they must instead reach the filter stage and
    take the null_text/html-decode path per url.

    drop_boilerplate_lines groups lines by url, so its input MUST be
    url-unique: with duplicate urls (the exact shape --url-dedup exists
    for, and the flags are independent) lines from different rows would
    interleave into one merged text and fan back onto every dup row.
    When --url-dedup was not requested, an exact-url dedup (no
    canonicalization — the page set is unchanged) guarantees uniqueness.

    STAGE BOUNDARIES ARE MATERIALIZED: every stage consumes its input
    through 2-3 branches (line census + line explode + join-back;
    digest winners + semi-join; signature + pair graph + anti-join), so
    an unmaterialized chain recomputes upstream lineage once per branch
    — MULTIPLICATIVELY across stages (measured at 1.2M pages,
    local[32]: the lazy chain ran the full pipeline 50x slower than the
    filter alone).

    THE CUT MUST TRUNCATE LINEAGE, not just cache: a persisted stage
    keeps its whole upstream plan, so every later plan embeds every
    earlier one through each of its branches and grows multiplicatively
    (every flag on, 200 synthesized pages, local[4]: persisted stages
    left a 640K-char analyzed plan, 1.5 GB of heap in use and took
    123 s; checkpointed ones a 67-char leaf, 0.18 GB and 21 s; at a 2g
    heap the persisted chain ran out of heap).  In memory, each
    stage is an eager localCheckpoint() — blocks on the executors, a
    leaf plan — and the previous stage's blocks are released once the
    next one is materialized, so memory stays bounded at ~one stage
    table (holding all four deserialized blew an 8g heap at 1.2M
    pages).  A released checkpoint cannot be recomputed, so a stage is
    released only when nothing built later still reads it (the nulls
    split below is cached on its own first).  This is also how a real
    100 TB pipeline runs: each pre-pass output is a checkpointed table,
    not live lineage — and ``stage_dir`` (job flag ``--stage-dir``)
    makes that durable: each stage writes parquet under it and is
    re-read, so the stage tables survive executor loss and the session
    (for debugging/lineage audits), and memory holds zero cached
    stages.  On a lossy cluster pass --stage-dir."""
    from pyspark import StorageLevel

    _prev = [None]
    _n = [0]

    def _stage(df):
        if stage_dir is not None:
            path = f"{stage_dir}/stage_{_n[0]:02d}"
            _n[0] += 1
            df.write.mode("overwrite").parquet(path)
            return df.sparkSession.read.parquet(path)
        df = df.localCheckpoint(eager=True)
        if _prev[0] is not None:
            # nothing built later reads it (see the docstring)
            _prev[0]._jdf.queryExecution().logical().rdd().unpersist(False)
        _prev[0] = df
        return df

    if fix_mojibake:
        from pyspark.sql import functions as F

        from harvesttext_spark.functions import mojibake

        # FIRST: every downstream stage (dedup keys, battery, policy)
        # should see repaired text.  Narrow per-row map — rides the scan,
        # no persist needed, no uniqueness precondition.
        pages = pages.withColumn("text", mojibake.fix_mojibake(F.col("text")))
    if url_dedup:
        from harvesttext_spark.operators.dedup import drop_url_dups

        pages = _stage(drop_url_dups(pages))
    if boilerplate_min_df is not None:
        from pyspark.sql import functions as F

        from harvesttext_spark.operators.dedup import (
            drop_boilerplate_lines,
            drop_url_dups,
        )

        if not url_dedup:
            pages = _stage(drop_url_dups(pages, canonicalize=False))
        cleaned = drop_boilerplate_lines(
            pages, text_col="text", id_col="url", min_df=boilerplate_min_df
        ).withColumnRenamed("text_clean", "_debo")
        pages = _stage(
            pages.join(cleaned, "url", "left")
            .withColumn("text", F.coalesce("_debo", "text"))
            .drop("_debo")
        )
    if dedup_paragraphs:
        from harvesttext_spark.operators.dedup import (
            drop_duplicate_paragraphs,
            drop_url_dups,
        )

        # paragraph census keys (url, pos) — input must be url-unique
        # (same precondition and guard as the boilerplate stage)
        if not url_dedup and boilerplate_min_df is None:
            pages = _stage(drop_url_dups(pages, canonicalize=False))
        pages = _stage(
            drop_duplicate_paragraphs(pages, text_col="text", id_col="url")
            .drop("text")
            .withColumnRenamed("text_dedup", "text")
        )
    if cut_dup_spans is not None:
        from pyspark.sql import functions as F

        from harvesttext_spark.operators.dedup import drop_url_dups
        from harvesttext_spark.operators.substring_dedup import cut_duplicate_spans

        # span census groups windows by url — input must be url-unique
        # (same precondition and guard as the boilerplate stage)
        if not url_dedup and boilerplate_min_df is None and not dedup_paragraphs:
            pages = _stage(drop_url_dups(pages, canonicalize=False))
        pages = _stage(
            cut_duplicate_spans(pages, k=cut_dup_spans, text_col="text", id_col="url")
            .drop("text")
            .withColumnRenamed("text_dedup", "text")
        )
    if exact_dedup or minhash_jaccard is not None:
        from pyspark.sql import functions as F

        from harvesttext_spark.operators.dedup import (
            drop_exact_dups,
            drop_near_dups,
            minhash_dup_pairs,
        )

        nn = pages.filter(F.col("text").isNotNull())
        # materialize the (tiny) null-text split BEFORE _stage releases
        # its parent — otherwise the union branch would read a released
        # checkpoint to re-find the html-only rows
        nulls = pages.filter(F.col("text").isNull()).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        nulls.count()
        if exact_dedup:
            nn = _stage(drop_exact_dups(nn, text_col="text", id_col="url"))
        if minhash_jaccard is not None:
            pairs = minhash_dup_pairs(
                nn, text_col="text", id_col="url", min_jaccard=minhash_jaccard,
                shingle_sample_mod=minhash_sample_mod,
            )
            nn = drop_near_dups(nn, pairs, id_col="url")
        # materialize the union through the stage protocol, then release
        # the nulls split too — without this its cache lingered for the
        # whole job, eroding the bounded-memory contract stated above
        pages = _stage(nn.unionByName(nulls))
        nulls.unpersist()
    return pages


def apply_toxicity_filter(labeled, terms, max_toxicity, text_col="text_clean"):
    """--max-toxicity: kept docs whose toxic-term density over the CLEANED
    text exceeds the threshold become drop_reason=toxicity; the density
    lands in a ``toxicity`` column as a stage metric.  Per-row Arrow map
    (operators/sentiment.toxicity_udf) — zero shuffle, no url-uniqueness
    precondition.  NULL density (no tokens) is below any threshold: an
    empty doc can't be toxic (and is already dropped upstream anyway)."""
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.sentiment import toxicity_udf

    return (
        labeled.withColumn("toxicity", toxicity_udf(terms)(F.col(text_col)))
        .withColumn(
            "drop_reason",
            F.when(
                F.col("keep")
                & (F.coalesce(F.col("toxicity"), F.lit(0.0)) > max_toxicity),
                F.lit("toxicity"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
    )


def apply_script_mix_filter(labeled, min_dominant_frac, text_col="text_clean"):
    """--min-dominant-script-frac: kept docs whose dominant content
    script (han/latin/cyrillic/arabic/digit/punct char classes,
    functions/textstats.script_mix_signals) covers less than the
    threshold fraction of CLEANED chars become drop_reason=script_mix —
    the CCNet/RefinedWeb charset-composition rule catching wrong-charset
    decodes and script-mixing spam.  ``dominant_script`` and
    ``dominant_frac`` land as stage-metric columns.  Pure codegen on the
    row — zero shuffle, bucket-idempotent under resume.  NULL text
    reports dominant 'none'/frac 0.0 but is already dropped upstream."""
    from pyspark.sql import functions as F

    from harvesttext_spark.functions.textstats import script_mix_signals

    sig = script_mix_signals(F.col(text_col))
    return (
        labeled.withColumn("dominant_script", sig["dominant_script"])
        .withColumn("dominant_frac", F.round(sig["dominant_frac"], 6))
        .withColumn(
            "drop_reason",
            F.when(
                F.col("keep")
                & (F.coalesce(F.col("dominant_frac"), F.lit(0.0)) < min_dominant_frac),
                F.lit("script_mix"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
    )


def apply_c4_line_filter(
    labeled, min_words=5, min_sentences=3, text_col="text_clean"
):
    """--c4-line-filter: the C4 battery (Raffel et al. 2020 §2.2,
    functions/c4.py) over kept rows' cleaned text — lines failing the
    terminal-punct / min-words / javascript rules are removed from
    ``text_col``; pages with braces, "lorem ipsum", or fewer than
    ``min_sentences`` surviving sentences drop as c4_brace / c4_lorem /
    c4_short_page.  Pure codegen per row (bucket-idempotent — composes
    with --resume); dropped rows keep their ORIGINAL text for audit."""
    from pyspark.sql import functions as F

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
    df = df.withColumn(
        "drop_reason",
        F.when(
            F.col("keep") & F.col("_c4_brace"), F.lit("c4_brace")
        )
        .when(F.col("keep") & F.col("_c4_lorem"), F.lit("c4_lorem"))
        .when(
            F.col("keep") & (F.col("_c4_sent") < min_sentences),
            F.lit("c4_short_page"),
        )
        .otherwise(F.col("drop_reason")),
    ).withColumn("keep", F.col("drop_reason").isNull())
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
    (first failing rule wins, in that order).  Pure codegen per row
    (bucket-idempotent — composes with --resume); the three ratios land
    as stage-metric columns."""
    from pyspark.sql import functions as F

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
    df = df.withColumn(
        "drop_reason",
        F.when(
            F.col("keep") & ~(F.col("fineweb_punct_frac") > punct_ratio),
            F.lit("fineweb_punct"),
        )
        .when(
            F.col("keep") & (F.col("fineweb_short_frac") >= short_ratio),
            F.lit("fineweb_short_lines"),
        )
        .when(
            F.col("keep") & (F.col("fineweb_dup_frac") >= dup_ratio),
            F.lit("fineweb_dup_lines"),
        )
        .otherwise(F.col("drop_reason")),
    ).withColumn("keep", F.col("drop_reason").isNull())
    return df


def apply_dsir_select(labeled, target, keep_frac, seed=42):
    """--dsir-keep-frac + --dsir-target-path: DSIR importance resampling
    (Xie et al. 2023, operators/dsir.py) over the KEPT rows' cleaned
    text — keep ≈ keep_frac of them, favoring pages whose hashed-ngram
    distribution matches the target corpus; the rest become
    drop_reason=dsir.  ``dsir_logw`` lands as a stage-metric column.
    CORPUS-relative (the raw model is this run's kept set), so — like
    the self-trained LM — it is NOT bucket-idempotent and is refused
    under --resume.  Precondition: url is unique among kept rows (run
    the dedup pre-passes first); duplicate urls would fan out the
    weight join."""
    from pyspark.sql import functions as F

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
    return (
        labeled.join(flags, labeled["url"] == flags["_durl"], "left")
        .withColumn(
            "drop_reason",
            F.when(
                F.col("keep") & ~F.coalesce(F.col("_dkeep"), F.lit(True)),
                F.lit("dsir"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_durl", "_dkeep")
    )


def apply_cross_snapshot_dedup(labeled, index_path, text_col="text_clean"):
    """--dedup-against: drop kept pages whose cleaned text near-matches
    the PREVIOUS run's corpus via its persisted MinHash band index
    (operators/dedup.py snapshot_band_index / flag_dups_against —
    written by --export-dedup-index at OUTPUT/dedup_index) —
    incremental dump-over-dump dedup without re-reading last dump's
    text.  drop_reason=cross_snapshot_dup.  Per-row against a FIXED
    external index, so unlike the in-run dedup passes this COMPOSES
    with --resume (bucket-idempotent)."""
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.dedup import flag_dups_against

    prior = labeled.sparkSession.read.parquet(index_path)
    flags = flag_dups_against(
        labeled.select(
            F.col("url"), F.coalesce(F.col(text_col), F.lit("")).alias("_t")
        ),
        prior,
        text_col="_t",
        id_col="url",
    ).select(F.col("id").alias("_xurl"), "cross_dup")
    return (
        labeled.join(flags, labeled["url"] == flags["_xurl"], "left")
        .withColumn(
            "drop_reason",
            F.when(
                F.col("keep") & F.coalesce(F.col("cross_dup"), F.lit(False)),
                F.lit("cross_snapshot_dup"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_xurl", "cross_dup")
    )


def apply_domain_reputation_filter(labeled, min_rate, prior_strength=None):
    """--domain-reputation-min-rate: per-domain Beta-Binomial shrunk
    keep-rate over THIS run's labels (operators/domain_reputation.py) —
    every page of a domain whose shrunk rate falls below ``min_rate``
    drops as domain_reputation, including pages the per-page rules kept
    (link farms produce individually-plausible pages).  The shrinkage
    prior (κ pseudo-pages of global rate) keeps 2-page domains from
    being judged on 2 pages.  ``domain_shrunk_rate`` lands as a
    stage-metric column.  CORPUS-relative (rates depend on the run's
    full label census), so refused under --resume.  One domain-keyed
    agg + an AQE-planned join back — the salted domain_metrics rollup
    is unaffected."""
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.domain_reputation import (
        PRIOR_STRENGTH,
        apply_domain_reputation,
    )
    from harvesttext_spark.pipeline.quality_filter import domain_col

    df = labeled.withColumn("_dr_domain", domain_col("url"))
    df = apply_domain_reputation(
        df,
        min_rate,
        domain_col="_dr_domain",
        keep_col="keep",
        prior_strength=PRIOR_STRENGTH if prior_strength is None else prior_strength,
    )
    return (
        df.withColumn(
            "drop_reason",
            F.when(
                F.col("keep") & ~F.col("domain_reputation_keep"),
                F.lit("domain_reputation"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_dr_domain", "domain_reputation_keep")
    )


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
    every row.  CORPUS-relative (the model depends on this run's label
    balance), so — like --with-lm and --dsir-keep-frac — it is NOT
    bucket-idempotent and is refused under --resume.  Raises when the
    cascade produced only one class (nothing to distill).  Precondition:
    url unique (run the dedup pre-passes first).

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
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.quality_classifier import (
        score_quality,
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
        from harvesttext_spark.operators.quality_classifier import (
            apply_calibration,
            train_isotonic_calibrator,
        )

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
        from harvesttext_spark.operators.quality_classifier import (
            CAL_LODDS_HI,
            CAL_LODDS_LO,
            CAL_N_BINS,
            _lodds_bin,
            threshold_for_keep_rate,
        )

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
    return (
        labeled.join(scored, labeled["url"] == scored["_qurl"], "left")
        .withColumn(
            "drop_reason",
            F.when(
                F.col("keep") & drop_pred,
                F.lit("quality_classifier"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_qurl", "quality_lodds")
    )


def apply_edu_filter(labeled, teacher_path, min_score, text_col="text_clean"):
    """--edu-min-score: FineWeb-Edu-style scored distillation
    (operators/edu_scorer.py) — train the smoothed target-encoding
    student on an EXTERNAL teacher parquet (--edu-teacher-path: any
    table with a text/text_clean column and a teacher/score double
    column in [0, 5]), then drop KEPT pages whose integer grade falls
    below ``min_score`` (drop_reason=edu_score).  ``edu_score`` lands
    as a stage-metric column on every row.  The model depends ONLY on
    the fixed external teacher file — per-row thereafter, so unlike the
    corpus-distilled classifier this stage is bucket-idempotent and
    composes with --resume (the --decontaminate pattern)."""
    from pyspark.sql import functions as F

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
    return (
        labeled.join(scored, labeled["url"] == scored["_eurl"], "left")
        .withColumn(
            "drop_reason",
            F.when(
                F.col("keep")
                & (F.coalesce(F.col("edu_int"), F.lit(0)) < min_score),
                F.lit("edu_score"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_eurl", "edu_int")
    )


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
    while the capped one stays linear.
    CORPUS-relative (cluster mates + smaller-url comparisons depend on
    the full kept set) — refused under --resume like --minhash-dedup's
    post-label siblings.  ``centroid_mode='trained'``
    (--semdedup-centroids) swaps the md5 fixture planes + residual
    split for seeded spherical k-means centroids (see inline note)."""
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.dedup import _estimated_rows
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
    return (
        labeled.join(flags, labeled["url"] == flags["_surl"], "left")
        .withColumn(
            "drop_reason",
            F.when(
                F.col("keep") & ~F.coalesce(F.col("semdedup_keep"), F.lit(True)),
                F.lit("semantic_dup"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_surl", "semdedup_keep")
    )


def apply_mixture(labeled, spec_path):
    """--mixture-spec: static mixture sampling of the kept set
    (operators/mixture.py) — the post-filter "data mixing" step.  The
    JSON spec names the grouping column and target fractions:
    ``{"group_by": "lang_pred", "fractions": {"en": 0.6, ...},
    "budget_frac": 0.5}`` (budget_frac optional).  Kept rows hashed out
    of the sample become drop_reason=mixture; groups absent from the
    spec drop entirely.  CORPUS-relative (rates depend on the kept
    counts) — refused under --resume."""
    import json

    from pyspark.sql import functions as F

    from harvesttext_spark.operators.mixture import sample_to_mixture

    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
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
        .withColumn(
            "drop_reason",
            F.when(
                F.col("keep") & ~F.coalesce(F.col("mix_keep"), F.lit(True)),
                F.lit("mixture"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
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
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.packing import pack_sequences

    kept = labeled.filter(F.col("keep")).select(
        F.col("url").alias("_purl"), F.col("text_clean")
    )
    token_count_col = None
    if tokenizer == "bpe":
        from harvesttext_spark.operators.bpe import bpe_tokenize, train_bpe

        model = train_bpe(
            kept.select(F.coalesce(F.col("text_clean"), F.lit("")).alias("_t")),
            text_col="_t",
            n_merges=bpe_merges,
        )
        counts = bpe_tokenize(
            kept, model, text_col="text_clean", id_col="_purl"
        ).select(F.col("doc_id").alias("_purl"), "n_bpe_tokens")
        kept = kept.join(counts, "_purl")
        token_count_col = "n_bpe_tokens"
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
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.packing import pack_epochs

    kept = labeled.filter(F.col("keep")).select(
        "url", "text_clean", F.coalesce(F.col("mix_copies"), F.lit(1)).alias("_mc")
    )
    token_count_col = None
    if tokenizer == "bpe":
        from harvesttext_spark.operators.bpe import bpe_tokenize, train_bpe

        model = train_bpe(
            kept.select(F.coalesce(F.col("text_clean"), F.lit("")).alias("_t")),
            text_col="_t",
            n_merges=bpe_merges,
        )
        counts = bpe_tokenize(
            kept, model, text_col="text_clean", id_col="url"
        ).select(F.col("doc_id").alias("url"), "n_bpe_tokens")
        kept = kept.join(counts, "url")
        token_count_col = "n_bpe_tokens"
    return pack_epochs(
        kept,
        max_tokens,
        id_col="url",
        copies_col="_mc",
        text_col="text_clean",
        token_count_col=token_count_col,
    )


def build_policy_fn(args, parser=None):
    """Compose the post-label policy stages (--keep-langs, --max-url-risk,
    --decontaminate, --max-toxicity, --pii-scrub, --scrub-words) into ONE
    ``labeled -> labeled`` function used by BOTH the full-run and
    --resume paths — previously --resume silently ignored every policy
    flag.  All of these are per-row against FIXED external inputs
    (lexicon/benchmark/keyword files), so they satisfy resume's bucket
    idempotency — unlike the corpus-trained LM, which stays excluded.
    Files are read ONCE here (driver side) so validation fails before
    any Spark work and reprocessed tail buckets see identical inputs."""
    err = (parser.error if parser else None) or (lambda m: (_ for _ in ()).throw(SystemExit(m)))
    stages = []
    zh_seg = getattr(args, "zh_policy_seg", False)
    if zh_seg and not (args.decontaminate or args.max_toxicity is not None):
        err("--zh-policy-seg requires --decontaminate and/or --max-toxicity")
    tox_col = dec_col = "text_clean"
    if zh_seg:
        from pyspark.sql import functions as F

        from harvesttext_spark.functions.tokenize import zh_cut_join_udf

        # segment ONCE into a scratch column both token-matching stages
        # share; dropped after the last stage so the output schema is
        # unchanged.  Per-row Arrow map -> bucket-idempotent under resume.
        stages.append(
            lambda df: df.withColumn(
                "_policy_seg", zh_cut_join_udf()(F.col("text_clean"))
            )
        )
        tox_col = dec_col = "_policy_seg"
    if getattr(args, "dedup_against", None) is not None:
        # first content-policy stage: the band join trims the kept set
        # before the costlier token-matching stages
        stages.append(
            lambda df: apply_cross_snapshot_dedup(df, args.dedup_against)
        )
    if args.keep_langs:
        langs = [x.strip() for x in args.keep_langs.split(",") if x.strip()]
        stages.append(lambda df: apply_lang_whitelist(df, langs))
    if args.max_url_risk is not None:
        kws = None
        if args.url_risk_keywords:
            with open(args.url_risk_keywords) as fh:
                kws = [ln.strip().lower() for ln in fh if ln.strip()]
        stages.append(lambda df: apply_url_risk_filter(df, args.max_url_risk, kws))
    if getattr(args, "c4_line_filter", False):
        stages.append(
            lambda df: apply_c4_line_filter(
                df,
                min_words=args.c4_min_words,
                min_sentences=args.c4_min_sentences,
            )
        )
    if getattr(args, "fineweb_filter", False):
        stages.append(
            lambda df: apply_fineweb_filter(
                df,
                punct_ratio=args.fineweb_punct_ratio,
                short_ratio=args.fineweb_short_ratio,
                dup_ratio=args.fineweb_dup_ratio,
            )
        )
    if getattr(args, "edu_min_score", None) is not None:
        import os as _os

        if not _os.path.exists(args.edu_teacher_path):
            err(f"--edu-teacher-path not found: {args.edu_teacher_path}")
        stages.append(
            lambda df: apply_edu_filter(
                df, args.edu_teacher_path, args.edu_min_score
            )
        )
    if getattr(args, "min_dominant_script_frac", None) is not None:
        # cheapest policy stage (pure codegen) — runs before the
        # token-matching stages so their Arrow work skips nothing it
        # shouldn't but the common drop happens first
        stages.append(
            lambda df: apply_script_mix_filter(df, args.min_dominant_script_frac)
        )
    if args.decontaminate:
        with open(args.decontaminate) as fh:
            bench_texts = [ln.strip() for ln in fh if ln.strip()]
        if zh_seg:
            # the benchmark side must tokenize IDENTICALLY to the corpus
            # side, so segment it with the same cutter (driver side — the
            # benchmark file is a bounded local input)
            from harvesttext_spark.functions.tokenize import base_cut

            bench_texts = [" ".join(base_cut(t)) for t in bench_texts]
        stages.append(
            lambda df: apply_decontamination(
                df, bench_texts, n=args.decontaminate_ngram, text_col=dec_col
            )
        )
    if args.max_toxicity is not None:
        if not args.toxicity_lexicon:
            err("--max-toxicity requires --toxicity-lexicon FILE")
        with open(args.toxicity_lexicon) as fh:
            terms = [ln.strip() for ln in fh if ln.strip()]
        stages.append(
            lambda df: apply_toxicity_filter(
                df, terms, args.max_toxicity, text_col=tox_col
            )
        )
    if args.pii_scrub:
        from pyspark.sql import functions as F

        from harvesttext_spark.operators.linking import scrub_pii_regex

        # after labeling: keep/drop and byte-parity gates are computed on
        # the reference-faithful battery output; redaction only changes
        # what ships
        stages.append(
            lambda df: df.withColumn("text_clean", scrub_pii_regex(F.col("text_clean")))
        )
    if args.scrub_words:
        from harvesttext_spark.operators.linking import EntityKB, scrub_text

        kb = EntityKB()
        with open(args.scrub_words, encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if not line or line.startswith("#"):
                    continue
                term, _, typ = line.partition("\t")
                kb.add(term, term, typ or "sensitive")
        stages.append(
            lambda df: scrub_text(df, kb, text_col="text_clean")
            .drop("text_clean")
            .withColumnRenamed("text_scrubbed", "text_clean")
        )

    if zh_seg:
        stages.append(lambda df: df.drop("_policy_seg"))

    def policy_fn(labeled):
        for st in stages:
            labeled = st(labeled)
        return labeled

    return policy_fn


def apply_url_risk_filter(labeled, max_risk, keywords=None):
    """--max-url-risk: kept docs whose url risk-keyword score exceeds the
    threshold become drop_reason=url_risk (RefinedWeb-style URL
    filtering).  Pure column math on the row — no join, no shuffle, no
    uniqueness precondition; the score lands in a url_risk metric
    column."""
    from pyspark.sql import functions as F

    from harvesttext_spark.functions.urls import URL_RISK_KEYWORDS, url_risk_score

    kws = tuple(keywords) if keywords else URL_RISK_KEYWORDS
    return (
        labeled.withColumn("url_risk", url_risk_score(F.col("url"), kws))
        .withColumn(
            "drop_reason",
            F.when(
                F.col("keep") & (F.col("url_risk") > max_risk),
                F.lit("url_risk"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
    )


def apply_decontamination(labeled, bench_texts, n=13, text_col="text_clean"):
    """--decontaminate: kept docs sharing a case-folded token n-gram with
    the benchmark set become drop_reason=contaminated (GPT-3/Pile-style
    eval decontamination, applied post-label so parity gates stay
    reference-faithful and lineage records WHY a page left).  The marker
    frame is a DISTINCT url set, so the left join cannot fan out even on
    duplicate urls."""
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.decontamination import _bench_shingles
    from harvesttext_spark.operators.dedup import token_shingles

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
        .withColumn(
            "drop_reason",
            F.when(
                F.col("keep") & F.coalesce(F.col("_cont"), F.lit(False)),
                F.lit("contaminated"),
            ).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_cont")
    )


def apply_lang_whitelist(labeled, langs):
    """--keep-langs: kept docs whose predicted language is outside the
    whitelist become drop_reason=lang_filtered.  NULL-safe: lang_pred
    NULL makes isin() NULL, and a bare ``keep & ~NULL`` condition would
    silently let unknown-language docs bypass the whitelist — a language
    filter must drop docs whose language could not be determined, so
    NULL coalesces to not-whitelisted."""
    from pyspark.sql import functions as F

    return labeled.withColumn(
        "drop_reason",
        F.when(
            F.col("keep")
            & ~F.coalesce(F.col("lang_pred").isin(langs), F.lit(False)),
            F.lit("lang_filtered"),
        ).otherwise(F.col("drop_reason")),
    ).withColumn("keep", F.col("drop_reason").isNull())


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="pages table path (url, warc_ts, html, text, lang)")
    p.add_argument(
        "--input-format",
        choices=["parquet", "wet", "wet-strict"],
        default="parquet",
        help="wet = raw Common-Crawl WET segments (sources/wet.py lineSep "
        "reader); wet-strict = Content-Length-driven carver (immune to "
        "bodies embedding the version line); parquet = a pages table",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--resume", action="store_true", help="use bucket-manifest resume")
    p.add_argument("--buckets", type=int, default=4096)
    p.add_argument("--max-buckets", type=int, default=None)
    p.add_argument("--with-lm", action="store_true", help="add perplexity stage")
    p.add_argument(
        "--url-dedup",
        action="store_true",
        help="pre-pass: one row per canonical URL (latest crawl wins)",
    )
    p.add_argument(
        "--drop-boilerplate",
        type=int,
        default=None,
        metavar="MIN_DF",
        help="pre-pass: remove lines present in >= MIN_DF docs before filtering",
    )
    p.add_argument(
        "--repetition-rules",
        action="store_true",
        help="with --with-lm: add Gopher repetition drops",
    )
    p.add_argument(
        "--fast-path",
        action="store_true",
        help="route pure-ASCII rows through the Catalyst-native clean chain "
        "(byte-equivalent to the Arrow UDF battery; +~19%% on latin corpora)",
    )
    p.add_argument(
        "--exact-dedup",
        action="store_true",
        help="pre-pass: keep one page per identical text (min-url survivor)",
    )
    p.add_argument(
        "--cut-dup-spans",
        type=int,
        default=None,
        metavar="K",
        help="pre-pass: exact-substring dedup — remove duplicated runs of "
        ">= K tokens from all but their first occurrence (Lee et al. 2022; "
        "the paper uses K=50); runs after boilerplate, before text dedup",
    )
    p.add_argument(
        "--stage-dir",
        default=None,
        metavar="DIR",
        help="materialize every dedup pre-pass stage as parquet under DIR "
        "and re-read it (true lineage cut) instead of caching in memory: "
        "plans stay O(1) per stage, stage tables survive for lineage "
        "audits, and zero stages are held in executor memory — the "
        "100 TB-shape default; in-memory persist remains the small-run "
        "default",
    )
    p.add_argument(
        "--fix-mojibake",
        action="store_true",
        help="pre-pass (runs first): repair UTF-8-as-cp1252 mojibake "
        "('Ã©' -> e-acute, 'â€™' -> right quote; the ftfy-class fix) via a "
        "deterministic literal-replace chain — pure codegen string work "
        "on the scan. Opt-in: text legitimately containing the mojibake "
        "byte sequences would be altered",
    )
    p.add_argument(
        "--dedup-paragraphs",
        action="store_true",
        help="pre-pass: corpus-level keep-first paragraph dedup (CCNet "
        "rule) — every occurrence of a duplicated normalized paragraph "
        "except the globally first is removed; runs after boilerplate, "
        "before exact-substring/text dedup",
    )
    p.add_argument(
        "--minhash-dedup",
        type=float,
        default=None,
        metavar="JACCARD",
        help="pre-pass: MinHash-LSH near-dup removal at this estimated-"
        "Jaccard threshold (e.g. 0.8); min-url survivor per cluster",
    )
    p.add_argument(
        "--zh-policy-seg",
        action="store_true",
        help="segment text with the dict-DAG zh cutter before the "
        "token-matching policy stages (--max-toxicity, --decontaminate) "
        "so zh policy filtering fires on unsegmented text; the benchmark "
        "file is segmented with the same cutter. Toxicity lexicon terms "
        "and benchmark n-grams match at TOKEN level: zh terms must be "
        "words the cutter emits (multi-word phrases stay unmatched)",
    )
    p.add_argument(
        "--minhash-sample-mod",
        type=int,
        default=None,
        metavar="P",
        help="with --minhash-dedup: opt-in 1/P shingle sampling before the "
        "signature (sketch thinning on an independent md5 channel). This "
        "CHANGES dedup semantics — borderline pairs can flip and short "
        "docs may thin to no shingles; see BENCH.md for measured recall "
        "vs the exact signature per P",
    )
    p.add_argument(
        "--gopher-full",
        action="store_true",
        help="with --with-lm: add the remaining Gopher table-A1 repetition "
        "drops (top-3/4-gram, duplicate-5/10-gram char coverage)",
    )
    p.add_argument(
        "--pii-scrub",
        action="store_true",
        help="redact phones/ids/emails from text_clean AFTER labeling "
        "(labels stay reference-parity; redaction is output-only)",
    )
    p.add_argument(
        "--max-url-risk",
        type=int,
        default=None,
        metavar="N",
        help="kept docs whose url contains more than N risk keywords "
        "(adult/gambling/pharma/piracy battery, functions/urls.py) get "
        "drop_reason 'url_risk'; score is pure column math on the scan",
    )
    p.add_argument(
        "--url-risk-keywords",
        default=None,
        metavar="FILE",
        help="override the builtin risk-keyword battery (one per line)",
    )
    p.add_argument(
        "--decontaminate",
        default=None,
        metavar="FILE",
        help="benchmark decontamination: FILE has one evaluation text per "
        "line; kept docs sharing a case-folded token n-gram with any of "
        "them get drop_reason 'contaminated' (GPT-3/Pile 13-gram rule)",
    )
    p.add_argument(
        "--decontaminate-ngram",
        type=int,
        default=13,
        metavar="N",
        help="n-gram size for --decontaminate (default 13)",
    )
    p.add_argument(
        "--max-toxicity",
        type=float,
        default=None,
        metavar="X",
        help="kept docs whose toxic-term density over text_clean exceeds "
        "X get drop_reason 'toxicity' (applied after the base cascade, "
        "like --keep-langs; requires --toxicity-lexicon)",
    )
    p.add_argument(
        "--toxicity-lexicon",
        default=None,
        metavar="FILE",
        help="one toxic term per line (lowercased, whitespace-token "
        "match) for --max-toxicity",
    )
    p.add_argument(
        "--min-dominant-script-frac",
        type=float,
        default=None,
        metavar="FRAC",
        help="drop kept docs whose dominant content script covers less "
        "than FRAC of cleaned chars (drop_reason=script_mix; the "
        "CCNet/RefinedWeb charset-composition rule)",
    )
    p.add_argument(
        "--block-domains",
        default=None,
        metavar="FILE",
        help="drop pages whose domain is listed (one domain per line) "
        "BEFORE the filter stages — broadcast anti-join on the host",
    )
    p.add_argument(
        "--keep-langs",
        default=None,
        metavar="LANGS",
        help="comma-separated lang_pred whitelist: kept docs with other "
        "predictions get drop_reason 'lang_filtered' (applied after the "
        "base cascade, like CCNet/RefinedWeb language selection)",
    )
    p.add_argument(
        "--scrub-words",
        default=None,
        metavar="FILE",
        help="sensitive-word scrub AFTER labeling: FILE has one term per "
        "line (optionally 'term<TAB>type', default type 'sensitive'); "
        "matches become #type# placeholders via the broadcast "
        "Aho-Corasick dictionary scrubber",
    )
    p.add_argument(
        "--ppl-threshold",
        type=float,
        default=None,
        help="with --with-lm: explicit high_ppl cutoff. Scheduled runs should "
        "pass yesterday's domain_metrics-derived value; when omitted the job "
        "computes the 99th percentile mid-pipeline (one extra full scan)",
    )
    p.add_argument(
        "--ppl-threshold-from-snapshot",
        default=None,
        metavar="DIR",
        help="with --with-lm: read the high_ppl cutoff from a previous "
        "run's DIR/run_stats.json (its recorded ppl p99) — the scale-safe "
        "scheduled-run default: no mid-pipeline quantile pass; each full "
        "run records its own p99 (one column-pruned scan of the already-"
        "written output) for the next run. Mutually exclusive with an "
        "explicit --ppl-threshold",
    )
    p.add_argument(
        "--expire-snapshots",
        type=int,
        default=None,
        metavar="KEEP_LAST",
        help="with --resume: after committing, expire all but the newest "
        "KEEP_LAST snapshots (log maintenance; data is never touched)",
    )
    p.add_argument(
        "--dsir-keep-frac",
        type=float,
        default=None,
        metavar="FRAC",
        help="after all policy stages: DSIR importance resampling keeps "
        "~FRAC of surviving docs, favoring pages whose hashed-ngram "
        "distribution matches --dsir-target-path (drop_reason=dsir). "
        "Corpus-relative like --with-lm, so incompatible with --resume.",
    )
    p.add_argument(
        "--dsir-target-path",
        default=None,
        metavar="PARQUET",
        help="with --dsir-keep-frac: parquet of target-quality pages "
        "(any table with a text_clean or text column)",
    )
    p.add_argument(
        "--c4-line-filter",
        action="store_true",
        help="apply the C4 line battery (terminal punct / min words / "
        "javascript lines; brace / lorem-ipsum / short-page drops) to "
        "kept rows' text_clean. Per-row, composes with --resume.",
    )
    p.add_argument(
        "--c4-min-words", type=int, default=5,
        help="with --c4-line-filter: min words per surviving line",
    )
    p.add_argument(
        "--c4-min-sentences", type=int, default=3,
        help="with --c4-line-filter: min sentences per surviving page",
    )
    p.add_argument(
        "--dedup-against",
        default=None,
        metavar="INDEX_DIR",
        help="drop kept pages near-matching a PREVIOUS run's corpus via "
        "its persisted MinHash band index (written by "
        "--export-dedup-index at OUTPUT/dedup_index; drop_reason="
        "cross_snapshot_dup). Per-row against a fixed index — composes "
        "with --resume.",
    )
    p.add_argument(
        "--export-dedup-index",
        action="store_true",
        help="after writing the output, persist the kept pages' MinHash "
        "band index at OUTPUT/dedup_index for a later run's "
        "--dedup-against",
    )
    p.add_argument(
        "--domain-reputation-min-rate",
        type=float,
        default=None,
        metavar="RATE",
        help="drop ALL pages of domains whose Beta-Binomial shrunk "
        "keep-rate (over this run's labels) is below RATE (drop_reason="
        "domain_reputation). Corpus-relative like --with-lm, so "
        "incompatible with --resume.",
    )
    p.add_argument(
        "--domain-reputation-strength",
        type=float,
        default=None,
        metavar="KAPPA",
        help="with --domain-reputation-min-rate: pseudo-pages of "
        "global-rate prior evidence (default 20)",
    )
    p.add_argument(
        "--quality-classifier-min-prob",
        type=float,
        default=None,
        metavar="PROB",
        help="distill the cascade's keep/drop labels into a hashed-ngram "
        "NB classifier (CCNet fastText shape) and drop kept pages whose "
        "quality probability is below PROB (drop_reason="
        "quality_classifier). Corpus-relative like --with-lm, so "
        "incompatible with --resume.",
    )
    p.add_argument(
        "--quality-classifier-keep-frac",
        type=float,
        default=None,
        metavar="FRAC",
        help="alternative to --quality-classifier-min-prob: BUDGET-first "
        "selection — keep the top FRAC of currently-kept pages by "
        "classifier rank (largest whole-bin keep rate not exceeding "
        "FRAC over the 64-bin log-odds histogram; deterministic, one "
        "constant-cardinality exchange). The form published recipes "
        "specify ('keep the best X%'), immune to probability "
        "miscalibration. Corpus-relative, so incompatible with --resume.",
    )
    p.add_argument(
        "--quality-classifier-calibrate",
        action="store_true",
        help="with --quality-classifier-min-prob: fit a distributed "
        "isotonic calibrator (PAV over a 64-bin log-odds histogram — "
        "one constant-cardinality exchange) on the cascade labels and "
        "apply the PROB threshold to the CALIBRATED probability "
        "(quality_prob_cal column); raw NB probabilities are badly "
        "miscalibrated (measured 2e-5 predicted vs 0.386 observed)",
    )
    p.add_argument(
        "--fineweb-filter",
        action="store_true",
        help="apply the FineWeb line-ratio battery (terminal-punct line "
        "ratio / short-line ratio / duplicated-line char ratio; Penedo "
        "et al. 2024) to kept rows' text_clean. Per-row, composes with "
        "--resume.",
    )
    p.add_argument(
        "--fineweb-punct-ratio", type=float, default=None,
        help="with --fineweb-filter: drop pages whose fraction of lines "
        "ending in terminal punctuation is <= this (default 0.12)",
    )
    p.add_argument(
        "--fineweb-short-ratio", type=float, default=None,
        help="with --fineweb-filter: drop pages whose fraction of lines "
        "shorter than 30 chars is >= this (default 0.67)",
    )
    p.add_argument(
        "--fineweb-dup-ratio", type=float, default=None,
        help="with --fineweb-filter: drop pages whose fraction of chars "
        "in duplicated lines is >= this (default 0.1)",
    )
    p.add_argument(
        "--edu-min-score",
        type=int,
        default=None,
        metavar="N",
        help="FineWeb-Edu-style scored distillation: train a smoothed "
        "target-encoding student on --edu-teacher-path and drop kept "
        "pages graded below N on the 0-5 scale (drop_reason=edu_score). "
        "The model depends only on the fixed teacher file, so this "
        "composes with --resume.",
    )
    p.add_argument(
        "--edu-teacher-path",
        default=None,
        metavar="PARQUET",
        help="with --edu-min-score: parquet of teacher-scored pages "
        "(text/text_clean column + teacher/score double column in [0,5])",
    )
    p.add_argument(
        "--semdedup-threshold",
        type=float,
        default=None,
        metavar="COS",
        help="semantic dedup of the kept set (SemDedup, Abbas et al. "
        "2023): deterministic word-hash embeddings, coarse clusters, "
        "within-cluster keep-first at this cosine threshold "
        "(drop_reason=semantic_dup). Corpus-relative, so incompatible "
        "with --resume.",
    )
    p.add_argument(
        "--semdedup-clusters",
        type=int,
        default=None,
        metavar="K",
        help="with --semdedup-threshold: coarse cluster count (default "
        "sqrt(est rows), clamped to [8, 65536])",
    )
    p.add_argument(
        "--semdedup-centroids",
        choices=("fixture", "trained"),
        default="fixture",
        metavar="MODE",
        help="with --semdedup-threshold: coarse-quantizer source. "
        "'fixture' (default) = deterministic md5 planes + level-2 "
        "residual split of hot clusters; 'trained' = seeded spherical "
        "k-means on a bounded md5-ordered sample "
        "(operators/semdedup.train_semdedup_centroids) — data-adapted "
        "clusters spread tight embedding cones, so no residual split is "
        "needed and recall survives template-heavy corpora",
    )
    p.add_argument(
        "--ppl-buckets",
        action="store_true",
        help="with --with-lm: add the CCNet head/middle/tail column — "
        "each lang_pred group's perplexity percent-ranked and cut at "
        "terciles (head = lowest ppl); published pipelines typically "
        "train on head+middle",
    )
    p.add_argument(
        "--mixture-spec",
        default=None,
        metavar="JSON",
        help="after all policy stages: static mixture sampling of kept "
        "rows to a target group composition (file: {\"group_by\": "
        "\"lang_pred\", \"fractions\": {...}, \"budget_frac\": 0.5}); "
        "rows hashed out drop as drop_reason=mixture; an optional "
        "max_repeat allows epoch up-sampling (kept rows carry "
        "mix_copies for the export step). Corpus-relative, so "
        "incompatible with --resume.",
    )
    p.add_argument(
        "--pack-max-tokens",
        type=int,
        default=None,
        metavar="N",
        help="after all filters: pack kept docs into N-token training "
        "sequences (pack_shard/pack_bin columns; oversize docs flagged "
        "in singleton bins). With a --mixture-spec whose max_repeat > 1 "
        "the pack assignment moves to OUTPUT/pack_manifest instead — "
        "one row per (doc, mix_copies epoch copy), so up-sampled docs "
        "occupy one bin per epoch",
    )
    p.add_argument(
        "--domain-history",
        default=None,
        metavar="DIRS",
        help="comma-separated previous run OUTPUT dirs (oldest first): "
        "stack their domain_metrics with this run's and write "
        "OUTPUT/domain_timeseries — per-domain keep-rate trajectory, "
        "drift deltas, and collapse/new-domain flags across snapshots "
        "(operators/snapshot_metrics.py; domain-cardinality window "
        "work, constant in page count)",
    )
    p.add_argument(
        "--pack-tokenizer",
        choices=["ws", "bpe"],
        default="ws",
        help="with --pack-max-tokens: count whitespace words (ws, "
        "default) or train a BPE vocabulary on the kept text and pack "
        "on real subword counts (bpe; merges via --bpe-merges)",
    )
    p.add_argument(
        "--bpe-vocab-out",
        default=None,
        metavar="FILE",
        help="after writing the output: train a BPE subword vocabulary "
        "on the kept pages' text_clean (operators/bpe.py — one capped "
        "word-count exchange, driver-side merges) and write the merge "
        "list to FILE, one 'a b' pair per line (the tokenizer-prep "
        "artifact between curation and training export)",
    )
    p.add_argument(
        "--bpe-merges",
        type=int,
        default=8000,
        metavar="N",
        help="with --bpe-vocab-out: number of merges to learn",
    )
    p.add_argument(
        "--synthesize",
        type=int,
        default=None,
        help="generate N synthetic pages instead of --input (smoke runs)",
    )
    args = p.parse_args(argv)

    import os

    from harvesttext_spark.session import get_spark

    spark = get_spark(app_name="ht_quality_filter")

    if args.synthesize:
        from harvesttext_spark.pipeline.pages import synthesize_pages

        pages = synthesize_pages(spark, n=args.synthesize, seed=42)
    else:
        assert args.input, "--input or --synthesize required"
        if args.input_format == "wet":
            from harvesttext_spark.sources.wet import read_wet

            pages = read_wet(spark, args.input)
        elif args.input_format == "wet-strict":
            from harvesttext_spark.sources.wet import read_wet_strict

            pages = read_wet_strict(spark, args.input)
        else:
            pages = spark.read.parquet(args.input)

    t0 = time.time()
    if args.block_domains:
        from pyspark.sql import functions as F

        from harvesttext_spark.pipeline.quality_filter import domain_col

        with open(args.block_domains, encoding="utf-8") as f:
            blocked = [
                ln.strip().lower()
                for ln in f
                if ln.strip() and not ln.startswith("#")
            ]
        bl = spark.createDataFrame([(d,) for d in blocked], "domain string")
        # broadcast anti-join on the host — the blocklist is a dimension
        pages = pages.withColumn("_dom", F.lower(domain_col())).join(
            F.broadcast(bl).withColumnRenamed("domain", "_dom"), "_dom", "left_anti"
        ).drop("_dom")
    pages = apply_pre_passes(
        pages,
        url_dedup=args.url_dedup,
        boilerplate_min_df=args.drop_boilerplate,
        exact_dedup=args.exact_dedup,
        minhash_jaccard=args.minhash_dedup,
        cut_dup_spans=args.cut_dup_spans,
        minhash_sample_mod=args.minhash_sample_mod,
        dedup_paragraphs=args.dedup_paragraphs,
        fix_mojibake=args.fix_mojibake,
        stage_dir=args.stage_dir,
    )
    if args.dsir_keep_frac is not None and not args.dsir_target_path:
        p.error("--dsir-keep-frac requires --dsir-target-path PARQUET")
    if (
        args.quality_classifier_min_prob is not None
        and args.quality_classifier_keep_frac is not None
    ):
        p.error(
            "--quality-classifier-min-prob and --quality-classifier-keep-frac "
            "are mutually exclusive (absolute threshold vs keep budget)"
        )
    if args.edu_min_score is not None and not args.edu_teacher_path:
        p.error("--edu-min-score requires --edu-teacher-path PARQUET")
    if args.resume:
        from harvesttext_spark.pipeline.resume import run_with_resume

        if args.pack_max_tokens is not None:
            sys.exit(
                "--resume is incompatible with --pack-max-tokens: bin "
                "composition depends on the run's full kept set, so "
                "reprocessed tail buckets would repack differently "
                "(bucket idempotency). Pack as a separate full pass over "
                "the resumed output."
            )
        if args.dsir_keep_frac is not None:
            sys.exit(
                "--resume is incompatible with --dsir-keep-frac: the DSIR "
                "raw model depends on the run's full kept set, so "
                "reprocessed tail buckets would not select identically "
                "(bucket idempotency). Run DSIR as a separate full pass "
                "over the resumed output."
            )
        if args.domain_reputation_min_rate is not None:
            sys.exit(
                "--resume is incompatible with --domain-reputation-min-rate: "
                "domain rates depend on the run's full label census, so "
                "reprocessed tail buckets would not drop identically "
                "(bucket idempotency). Run the reputation filter as a "
                "separate full pass over the resumed output."
            )
        if args.semdedup_threshold is not None:
            sys.exit(
                "--resume is incompatible with --semdedup-threshold: "
                "cluster membership and smaller-url comparisons depend on "
                "the run's full kept set, so reprocessed tail buckets "
                "would not drop identically (bucket idempotency). Run "
                "semantic dedup as a separate full pass over the resumed "
                "output."
            )
        if args.mixture_spec is not None:
            sys.exit(
                "--resume is incompatible with --mixture-spec: per-group "
                "keep rates depend on the run's full kept counts, so "
                "reprocessed tail buckets would not sample identically "
                "(bucket idempotency). Run mixture sampling as a separate "
                "full pass over the resumed output."
            )
        if (
            args.quality_classifier_min_prob is not None
            or args.quality_classifier_keep_frac is not None
        ):
            sys.exit(
                "--resume is incompatible with --quality-classifier-min-prob/"
                "--quality-classifier-keep-frac: the distilled classifier "
                "depends on the run's full label balance, so reprocessed "
                "tail buckets would not score identically (bucket "
                "idempotency). Run the classifier as a separate full pass "
                "over the resumed output."
            )
        if args.with_lm:
            sys.exit(
                "--resume is incompatible with --with-lm: the self-trained "
                "LM depends on the run's bucket batch, so reprocessed tail "
                "buckets would not label identically (bucket idempotency). "
                "Run the LM stage as a separate full pass over the resumed "
                "output with an explicit --ppl-threshold."
            )
        from harvesttext_spark.pipeline.quality_filter import quality_filter

        # the policy stages are per-row vs fixed external files, so they
        # compose with bucket-idempotent resume (build_policy_fn docstring)
        policy_fn = build_policy_fn(args, p)
        filter_fn = lambda df: policy_fn(  # noqa: E731
            quality_filter(df, fast_path=args.fast_path)
        )
        result = run_with_resume(
            spark, pages, args.output, n_buckets=args.buckets,
            max_buckets_this_run=args.max_buckets, filter_fn=filter_fn,
        )
        summary = {"mode": "resume", **{k: len(v) if isinstance(v, list) else v for k, v in result.items()}}
        if args.expire_snapshots is not None:
            from harvesttext_spark.pipeline.resume import expire_snapshots

            summary["snapshots_expired"] = len(
                expire_snapshots(args.output, keep_last=args.expire_snapshots)
            )
    else:
        from harvesttext_spark.pipeline.quality_filter import (
            domain_metrics,
            domain_metrics_full,
            partition_lineage,
            quality_filter,
            quality_filter_full,
        )

        ppl_threshold = args.ppl_threshold
        if args.with_lm:
            if args.ppl_threshold_from_snapshot is not None:
                if ppl_threshold is not None:
                    raise SystemExit(
                        "--ppl-threshold and --ppl-threshold-from-snapshot "
                        "are mutually exclusive"
                    )
                stats_path = os.path.join(
                    args.ppl_threshold_from_snapshot, "run_stats.json"
                )
                with open(stats_path) as f:
                    ppl_threshold = float(json.load(f)["ppl_p99"])
            if ppl_threshold is None:
                print(
                    "note: no --ppl-threshold; computing the 99th percentile "
                    "mid-pipeline (one extra full scan — scheduled runs should "
                    "pass --ppl-threshold-from-snapshot PREV_OUTPUT instead)",
                    file=sys.stderr,
                )
            labeled = quality_filter_full(
                pages,
                ppl_threshold=ppl_threshold,
                repetition_rules=args.repetition_rules,
                gopher_ngram_rules=args.gopher_full,
                fast_path=args.fast_path,
            )
        else:
            labeled = quality_filter(pages, fast_path=args.fast_path)
        if args.ppl_buckets:
            if not args.with_lm:
                p.error("--ppl-buckets requires --with-lm (the ppl column)")
            from harvesttext_spark.operators.lm_perplexity import ppl_buckets

            labeled = ppl_buckets(labeled, group_col="lang_pred")
        labeled = build_policy_fn(args, p)(labeled)
        # MODEL-STAGE BOUNDARIES ARE MATERIALIZED, like the dedup
        # pre-passes: every model stage consumes `labeled` through 2-3
        # branches (train + score + join-back; domain agg + join-back;
        # embed + scan + join-back; rate table + hash filter), so an
        # unmaterialized chain recomputes the whole upstream cascade
        # once per branch, multiplicatively across stages — chaining
        # five of them blew an 8g driver heap on plan analysis alone
        # before any row moved, and persist does NOT help (CacheManager
        # re-normalizes the full analyzed tree per registration — the
        # measured OOM).  The cut must truncate LINEAGE: --stage-dir
        # writes parquet (the 100 TB default — durable, auditable);
        # otherwise eager localCheckpoint() stores blocks on executors
        # and replaces the plan with a leaf (fine single-node /
        # fault-free; on a lossy cluster pass --stage-dir).
        _ms_n = [0]
        model_stages_on = sum(
            x is not None
            for x in (
                args.domain_reputation_min_rate,
                args.quality_classifier_min_prob
                if args.quality_classifier_min_prob is not None
                else args.quality_classifier_keep_frac,
                args.semdedup_threshold,
                args.dsir_keep_frac,
                args.mixture_spec,
                args.pack_max_tokens,
            )
        )

        def _model_stage(df):
            if model_stages_on < 2:
                return df  # single branching stage: lazy is fine
            t0 = time.time()
            if args.stage_dir is not None:
                path = f"{args.stage_dir}/model_stage_{_ms_n[0]:02d}"
                _ms_n[0] += 1
                df.write.mode("overwrite").parquet(path)
                out = spark.read.parquet(path)
            else:
                out = df.localCheckpoint(eager=True)
            # stage wall time to stderr: the cut materializes the whole
            # stage, so this IS the stage's cost (BENCH.md breakdown)
            print(
                f"# model_stage_{_ms_n[0] - 1 if args.stage_dir else '?'}"
                f": {time.time() - t0:.1f}s",
                file=sys.stderr,
                flush=True,
            )
            return out

        if model_stages_on >= 2:
            labeled = _model_stage(labeled)  # flat input for the first
        if args.domain_reputation_min_rate is not None:
            labeled = _model_stage(
                apply_domain_reputation_filter(
                    labeled,
                    args.domain_reputation_min_rate,
                    prior_strength=args.domain_reputation_strength,
                )
            )
        if (
            args.quality_classifier_min_prob is not None
            or args.quality_classifier_keep_frac is not None
        ):
            labeled = _model_stage(
                apply_quality_classifier(
                    labeled,
                    args.quality_classifier_min_prob,
                    calibrate=args.quality_classifier_calibrate,
                    keep_frac=args.quality_classifier_keep_frac,
                )
            )
        if args.semdedup_threshold is not None:
            labeled = _model_stage(
                apply_semdedup(
                    labeled,
                    args.semdedup_threshold,
                    n_clusters=args.semdedup_clusters,
                    centroid_mode=args.semdedup_centroids,
                )
            )
        if args.dsir_keep_frac is not None:
            from pyspark.sql import functions as F

            target = spark.read.parquet(args.dsir_target_path)
            tcol = "text_clean" if "text_clean" in target.columns else "text"
            target = target.select(F.col(tcol).alias("text_clean"))
            labeled = _model_stage(
                apply_dsir_select(labeled, target, args.dsir_keep_frac)
            )
        if args.mixture_spec is not None:
            labeled = _model_stage(apply_mixture(labeled, args.mixture_spec))
        pack_manifest_rows = None
        if args.pack_max_tokens is not None:
            mix_repeats = False
            if args.mixture_spec is not None:
                with open(args.mixture_spec, encoding="utf-8") as fh:
                    mix_repeats = int(json.load(fh).get("max_repeat", 1)) > 1
            if mix_repeats:
                # epoch-aware export: one pack slot per (doc, mix copy)
                # in OUTPUT/pack_manifest; the main table keeps its
                # one-row-per-doc shape (see build_pack_manifest).  With
                # max_repeat == 1 every copy count is 1 and the per-row
                # pack columns express the assignment exactly, so the
                # plain path keeps its schema
                build_pack_manifest(
                    labeled,
                    args.pack_max_tokens,
                    tokenizer=args.pack_tokenizer,
                    bpe_merges=args.bpe_merges,
                ).write.mode("overwrite").parquet(args.output + "/pack_manifest")
                pack_manifest_rows = spark.read.parquet(
                    args.output + "/pack_manifest"
                ).count()
            else:
                labeled = apply_packing(
                    labeled,
                    args.pack_max_tokens,
                    tokenizer=args.pack_tokenizer,
                    bpe_merges=args.bpe_merges,
                )
        labeled.write.mode("overwrite").parquet(args.output + "/data")
        out = spark.read.parquet(args.output + "/data")
        # with the LM stage on, the domain table carries the model rollups
        # (avg ppl + coherence) alongside the keep/drop stats
        dm = domain_metrics_full(out) if args.with_lm else domain_metrics(out)
        dm.write.mode("overwrite").parquet(args.output + "/domain_metrics")
        if args.with_lm:
            # record this run's ppl p99 for the NEXT run's threshold
            # (--ppl-threshold-from-snapshot): a column-pruned scan of the
            # parquet just written, not a pipeline recompute
            p99 = out.approxQuantile("ppl", [0.99], 0.01)
            run_stats = {
                "ppl_p99": p99[0] if p99 else None,
                "ppl_threshold_applied": ppl_threshold,  # None = mid-pipeline quantile
            }
            with open(os.path.join(args.output, "run_stats.json"), "w") as f:
                json.dump(run_stats, f)
        partition_lineage(out).write.mode("overwrite").parquet(args.output + "/lineage")
        # one groupBy pass replaces two full counts AND yields the
        # per-reason drop census (ops triage without re-reading the table)
        from pyspark.sql import functions as F

        census = {
            r["drop_reason"]: r["n"]
            for r in out.groupBy("drop_reason").agg(F.count("*").alias("n")).collect()
        }
        k = census.pop(None, 0)
        summary = {
            "mode": "full" if args.with_lm else "base",
            "n_docs": k + sum(census.values()),
            "n_keep": k,
            "drops_by_reason": dict(sorted(census.items())),
        }
        if pack_manifest_rows is not None:
            summary["pack_manifest_rows"] = pack_manifest_rows
    if args.export_dedup_index:
        # both branches land the labeled table at OUTPUT/data; the index
        # covers KEPT pages only (dropped pages can't collide away a
        # future page) and is rebuildable from the data dir at any time
        from pyspark.sql import functions as F

        from harvesttext_spark.operators.dedup import snapshot_band_index

        kept = spark.read.parquet(args.output + "/data").filter(F.col("keep"))
        idx = snapshot_band_index(
            kept.select("url", F.coalesce(F.col("text_clean"), F.lit("")).alias("_t")),
            text_col="_t",
            id_col="url",
        )
        idx.write.mode("overwrite").parquet(args.output + "/dedup_index")
        summary["dedup_index_rows"] = spark.read.parquet(
            args.output + "/dedup_index"
        ).count()
    if args.domain_history:
        from pyspark.sql import functions as F

        from harvesttext_spark.operators.snapshot_metrics import (
            domain_timeseries,
        )

        prev_dirs = [d.strip() for d in args.domain_history.split(",") if d.strip()]
        missing = [
            d
            for d in prev_dirs + [args.output]
            if not os.path.isdir(d + "/domain_metrics")
        ]
        if missing:
            sys.exit(
                f"--domain-history: no domain_metrics under {missing} "
                "(resume-mode runs do not write it; pass full-run outputs)"
            )
        stacked = None
        for i, d in enumerate(prev_dirs + [args.output]):
            dm_i = spark.read.parquet(d + "/domain_metrics").select(
                "domain",
                F.lit(i).alias("snapshot"),
                F.col("n_docs").alias("n_pages"),
                "n_keep",
            )
            stacked = dm_i if stacked is None else stacked.unionByName(dm_i)
        domain_timeseries(stacked).write.mode("overwrite").parquet(
            args.output + "/domain_timeseries"
        )
        summary["domain_timeseries_snapshots"] = len(prev_dirs) + 1
    if args.bpe_vocab_out:
        from pyspark.sql import functions as F

        from harvesttext_spark.operators.bpe import train_bpe

        kept = spark.read.parquet(args.output + "/data").filter(F.col("keep"))
        model = train_bpe(
            kept.select(F.coalesce(F.col("text_clean"), F.lit("")).alias("_t")),
            text_col="_t",
            n_merges=args.bpe_merges,
        )
        with open(args.bpe_vocab_out, "w", encoding="utf-8") as fh:
            for a, b in model["merges"]:
                fh.write(f"{a} {b}\n")
        summary["bpe_merges_written"] = len(model["merges"])
    summary["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
