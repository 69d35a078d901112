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

This file holds the job's options, their checks and main(); the optional
stages, their order and their resume rules are the tables of
harvesttext_spark/pipeline/stages.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import functions as F

from harvesttext_spark.pipeline.quality_filter import (
    domain_metrics,
    domain_metrics_full,
    partition_lineage,
    quality_filter,
    quality_filter_full,
)
from harvesttext_spark.pipeline.stages import (
    STAGES,
    apply_model_stages,
    apply_pre_passes,
    build_policy_fn,
    given,
    mix_repeats,
)


def build_parser():
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
        help="materialize every lineage cut (each dedup pre-pass stage, "
        "and each model stage when two or more are on) as parquet under "
        "DIR and re-read it instead of taking an eager in-memory "
        "localCheckpoint: plans stay O(1) per stage, stage tables survive "
        "executor loss and remain for lineage audits, and zero stages are "
        "held in executor memory — the 100 TB-shape default; the in-memory "
        "checkpoint remains the small-run default",
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
        "specify ('keep the best X%%'), immune to probability "
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
        type=lambda s: [d.strip() for d in s.split(",") if d.strip()],
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
    return p


# Corpus-relative stages: each fits a model or a quota to the run's whole
# corpus, so the tail buckets --resume reprocesses would not come out as
# they did in the run that first committed them.  flag -> why.
CORPUS_RELATIVE = {
    "--with-lm": "the self-trained LM depends on the run's bucket batch "
    "(a separate LM pass needs an explicit --ppl-threshold)",
    **{f: st.corpus_relative for st in STAGES if st.corpus_relative for f in st.flags},
}

# flag -> the flags it takes effect with (any one of them); without one it
# would be silently ignored
REQUIRES = {
    "--repetition-rules": ("--with-lm",),
    "--gopher-full": ("--with-lm",),
    "--ppl-threshold": ("--with-lm",),
    "--ppl-threshold-from-snapshot": ("--with-lm",),
    "--ppl-buckets": ("--with-lm",),
    "--minhash-sample-mod": ("--minhash-dedup",),
    "--quality-classifier-calibrate": ("--quality-classifier-min-prob",),
    "--expire-snapshots": ("--resume",),
    "--semdedup-clusters": ("--semdedup-threshold",),
    "--domain-reputation-strength": ("--domain-reputation-min-rate",),
    "--url-risk-keywords": ("--max-url-risk",),
    "--dsir-keep-frac": ("--dsir-target-path",),
    "--dsir-target-path": ("--dsir-keep-frac",),
    "--edu-min-score": ("--edu-teacher-path",),
    "--edu-teacher-path": ("--edu-min-score",),
    "--max-toxicity": ("--toxicity-lexicon",),
    "--toxicity-lexicon": ("--max-toxicity",),
    "--fineweb-punct-ratio": ("--fineweb-filter",),
    "--fineweb-short-ratio": ("--fineweb-filter",),
    "--fineweb-dup-ratio": ("--fineweb-filter",),
    "--zh-policy-seg": ("--decontaminate", "--max-toxicity"),
}

# pairs that cannot be combined -> why
EXCLUSIVE = (
    ("--ppl-threshold", "--ppl-threshold-from-snapshot", "two sources of one cutoff"),
    (
        "--quality-classifier-min-prob",
        "--quality-classifier-keep-frac",
        "absolute threshold vs keep budget",
    ),
    ("--resume", "--domain-history", "resume-mode runs write no domain_metrics"),
)


def parse_args(argv=None):
    """The job's arguments, checked: every refusal happens here, before
    main() starts Spark or reads a row."""
    p = build_parser()
    args = p.parse_args(argv)

    # a stage runs when any of its flags is given; an empty value names no
    # file and no language, so it would turn a stage on to do nothing
    for flag in [f for st in STAGES for f in st.flags]:
        if getattr(args, flag[2:].replace("-", "_")) == "":
            p.error(f"{flag} needs a non-empty value")
    if args.resume:
        for flag, why in CORPUS_RELATIVE.items():
            if given(args, flag):
                p.error(
                    f"--resume is incompatible with {flag}: {why}, so "
                    "reprocessed tail buckets would not come out identically "
                    "(bucket idempotency). Run it as a separate full pass "
                    "over the resumed output."
                )
    for flag, parents in REQUIRES.items():
        if given(args, flag) and not any(given(args, q) for q in parents):
            p.error(f"{flag} requires {' or '.join(parents)}")
    for a, b, why in EXCLUSIVE:
        if given(args, a) and given(args, b):
            p.error(f"{a} and {b} are mutually exclusive ({why})")
    if args.edu_teacher_path and not os.path.exists(args.edu_teacher_path):
        p.error(f"--edu-teacher-path not found: {args.edu_teacher_path}")
    snap = args.ppl_threshold_from_snapshot
    if snap and not os.path.exists(os.path.join(snap, "run_stats.json")):
        p.error(f"--ppl-threshold-from-snapshot: no run_stats.json under {snap}")
    missing = [
        d for d in args.domain_history or () if not os.path.isdir(d + "/domain_metrics")
    ]
    if missing:
        p.error(
            f"--domain-history: no domain_metrics under {missing} "
            "(resume-mode runs do not write it; pass full-run outputs)"
        )
    return args


def main(argv=None) -> None:
    args = parse_args(argv)
    # here, not in parse_args: in-process callers parse policy flags only
    if not (args.input or args.synthesize):
        build_parser().error("--input or --synthesize is required")

    from harvesttext_spark.session import get_spark

    spark = get_spark(app_name="ht_quality_filter")

    if args.synthesize:
        from harvesttext_spark.pipeline.pages import synthesize_pages

        pages = synthesize_pages(spark, n=args.synthesize, seed=42)
    elif args.input_format == "wet":
        from harvesttext_spark.sources.wet import read_wet

        pages = read_wet(spark, args.input)
    elif args.input_format == "wet-strict":
        from harvesttext_spark.sources.wet import read_wet_strict

        pages = read_wet_strict(spark, args.input)
    else:
        pages = spark.read.parquet(args.input)

    t0 = time.time()
    pages = apply_pre_passes(pages, args)
    if args.resume:
        from harvesttext_spark.pipeline.resume import run_with_resume

        # the policy stages are per-row vs fixed external files, so they
        # compose with bucket-idempotent resume (build_policy_fn docstring)
        policy_fn = build_policy_fn(args)
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
        ppl_threshold = args.ppl_threshold
        if args.with_lm:
            if args.ppl_threshold_from_snapshot is not None:
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
            from harvesttext_spark.operators.lm_perplexity import ppl_buckets

            labeled = ppl_buckets(labeled, group_col="lang_pred")
        labeled = apply_model_stages(build_policy_fn(args)(labeled), args)
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
        if args.pack_max_tokens is not None and mix_repeats(args):
            summary["pack_manifest_rows"] = spark.read.parquet(
                args.output + "/pack_manifest"
            ).count()
    if args.export_dedup_index:
        # both branches land the labeled table at OUTPUT/data; the index
        # covers KEPT pages only (dropped pages can't collide away a
        # future page) and is rebuildable from the data dir at any time
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
        from harvesttext_spark.operators.snapshot_metrics import (
            domain_timeseries,
        )

        stacked = None
        for i, d in enumerate(args.domain_history + [args.output]):
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
        summary["domain_timeseries_snapshots"] = len(args.domain_history) + 1
    if args.bpe_vocab_out:
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
