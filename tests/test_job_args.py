"""The flagship job's argument checks (jobs/run_quality_filter.py
parse_args).  No Spark: every refusal must happen before main() starts a
session or reads a row, so none of these tests builds one."""

import pytest

from jobs.run_quality_filter import CORPUS_RELATIVE, main, parse_args


def refusal(capsys, argv):
    """parse_args(argv)'s error line; fails the test if argv parses."""
    with pytest.raises(SystemExit) as exc:
        parse_args(["--output", "out", *argv])
    assert exc.value.code != 0
    # the last stderr line is the error; the usage above it names every flag
    return capsys.readouterr().err.strip().splitlines()[-1]


# each corpus-relative stage, with what it needs to get past the other checks
RESUME_REFUSED = [
    ["--with-lm"],
    ["--domain-reputation-min-rate", "0.1"],
    ["--quality-classifier-min-prob", "0.5"],
    ["--quality-classifier-keep-frac", "0.5"],
    ["--semdedup-threshold", "0.9"],
    ["--dsir-keep-frac", "0.5", "--dsir-target-path", "target"],
    ["--mixture-spec", "mix.json"],
    ["--pack-max-tokens", "512"],
]


@pytest.mark.parametrize("argv", RESUME_REFUSED, ids=lambda a: a[0])
def test_resume_refuses_corpus_relative_flags(capsys, argv):
    err = refusal(capsys, ["--resume", *argv])
    assert f"--resume is incompatible with {argv[0]}:" in err
    assert "bucket idempotency" in err
    if argv[0] == "--with-lm":
        assert "--ppl-threshold" in err
    # the same flags parse without --resume
    parse_args(["--output", "out", *argv])


def test_resume_table_lists_exactly_the_refused_flags():
    assert set(CORPUS_RELATIVE) == {a[0] for a in RESUME_REFUSED}


@pytest.mark.parametrize(
    "argv, parent",
    [
        (["--repetition-rules"], "--with-lm"),
        (["--gopher-full"], "--with-lm"),
        (["--ppl-threshold", "1000"], "--with-lm"),
        (["--ppl-threshold-from-snapshot", "prev"], "--with-lm"),
        (["--ppl-buckets"], "--with-lm"),
        (["--minhash-sample-mod", "4"], "--minhash-dedup"),
        (["--quality-classifier-calibrate"], "--quality-classifier-min-prob"),
        (
            ["--quality-classifier-calibrate", "--quality-classifier-keep-frac", "0.5"],
            "--quality-classifier-min-prob",
        ),
        (["--expire-snapshots", "3"], "--resume"),
        (["--semdedup-clusters", "8"], "--semdedup-threshold"),
        (["--domain-reputation-strength", "20"], "--domain-reputation-min-rate"),
        (["--url-risk-keywords", "kw.txt"], "--max-url-risk"),
        (["--dsir-target-path", "target"], "--dsir-keep-frac"),
        (["--dsir-keep-frac", "0.5"], "--dsir-target-path"),
        (["--edu-teacher-path", "teacher"], "--edu-min-score"),
        (["--edu-min-score", "3"], "--edu-teacher-path"),
        (["--max-toxicity", "0.5"], "--toxicity-lexicon"),
        (["--toxicity-lexicon", "lex.txt"], "--max-toxicity"),
        (["--fineweb-punct-ratio", "0.1"], "--fineweb-filter"),
        (["--fineweb-short-ratio", "0.5"], "--fineweb-filter"),
        (["--fineweb-dup-ratio", "0.1"], "--fineweb-filter"),
        (["--zh-policy-seg"], "--decontaminate"),
    ],
    ids=lambda v: v[0] if isinstance(v, list) else None,
)
def test_dependent_flag_without_parent_refused(capsys, argv, parent):
    err = refusal(capsys, argv)
    assert f"{argv[0]} requires" in err and parent in err


@pytest.mark.parametrize(
    "argv",
    [
        ["--with-lm", "--ppl-threshold", "50", "--ppl-threshold-from-snapshot", "prev"],
        ["--quality-classifier-min-prob", "0.5", "--quality-classifier-keep-frac", "0.5"],
        ["--resume", "--domain-history", "prev"],
    ],
    ids=["ppl-threshold", "quality-classifier", "resume-domain-history"],
)
def test_mutually_exclusive_flags_refused(capsys, argv):
    assert "mutually exclusive" in refusal(capsys, argv)


def test_outside_inputs_checked(capsys, tmp_path):
    err = refusal(
        capsys, ["--edu-min-score", "3", "--edu-teacher-path", str(tmp_path / "nope")]
    )
    assert "--edu-teacher-path not found" in err
    prev = tmp_path / "prev"
    prev.mkdir()
    err = refusal(capsys, ["--domain-history", f"{prev},{tmp_path}"])
    assert "no domain_metrics" in err and str(prev) in err
    (prev / "domain_metrics").mkdir()
    args = parse_args(["--output", "out", "--domain-history", f" {prev} ,"])
    assert args.domain_history == [str(prev)]
    snap = ["--with-lm", "--ppl-threshold-from-snapshot", str(prev)]
    assert "no run_stats.json" in refusal(capsys, snap)
    (prev / "run_stats.json").write_text("{}")
    parse_args(["--output", "out", *snap])


def test_benchmark_and_recipe_flags_parse(tmp_path):
    from perfbench.run import FULL_RECIPE_FLAGS, WORKLOADS
    from tests.test_full_recipe import recipe_argv

    for flags in [w.flags for w in WORKLOADS.values()] + [FULL_RECIPE_FLAGS]:
        parse_args(["--input", "pages", "--output", "out", *flags])
    args = parse_args(recipe_argv(tmp_path))
    assert args.pack_max_tokens == 512 and args.stage_dir is not None


def test_main_refuses_before_spark(capsys, monkeypatch):
    import harvesttext_spark.session as session

    def no_spark(*a, **k):
        raise AssertionError("Spark started before the arguments were checked")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        main(["--output", "out", "--resume", "--with-lm"])
    assert exc.value.code == 2
    assert "--resume is incompatible with --with-lm" in capsys.readouterr().err
