"""The whole published pipeline recipe in ONE job invocation — the
integration pin that a user can compose every stage family (dedup
pre-passes, line batteries, script mix, corpus-relative model stages,
semantic dedup, mixture sampling, packing, index/vocab artifacts) the
way the CCNet / RefinedWeb / FineWeb recipes chain them.  Subprocess
because main() stops its context."""

import json
import os
import subprocess
import sys


def recipe_argv(tmp_path):
    """The recipe's job arguments (writes the mixture spec they name)."""
    mix = tmp_path / "mix.json"
    mix.write_text(
        json.dumps(
            {
                "group_by": "lang_pred",
                "fractions": {"en": 0.4, "zh": 0.3, "es": 0.1, "de": 0.1, "fr": 0.1},
            }
        )
    )
    return [
        "--synthesize", "2000",
        "--output", str(tmp_path / "out"),
        # parquet lineage cuts between ALL stages: with 5 pre-passes
        # + battery + 5 model stages chained, persist-shape caching
        # OOMs the driver on CacheManager plan normalization alone —
        # the documented 100 TB-shape default is --stage-dir
        "--stage-dir", str(tmp_path / "stages"),
        # dedup pre-passes
        "--url-dedup", "--exact-dedup",
        "--drop-boilerplate", "3",
        "--dedup-paragraphs",
        "--minhash-dedup", "0.8",
        # per-row batteries (c4/fineweb are OMITTED here: the
        # synthetic word-soup pages carry no sentence punctuation,
        # so those line rules correctly drop 100% of the corpus and
        # nothing would remain to train the model stages — their
        # composition is pinned by their own stage tests on
        # punctuated fixtures)
        "--min-dominant-script-frac", "0.3",
        # corpus-relative model stages
        "--domain-reputation-min-rate", "0.05",
        "--quality-classifier-min-prob", "0.01",
        "--semdedup-threshold", "0.98",
        # mixing + export
        "--mixture-spec", str(mix),
        "--pack-max-tokens", "512",
        "--export-dedup-index",
        "--bpe-vocab-out", str(tmp_path / "merges.txt"), "--bpe-merges", "60",
    ]


def test_full_recipe_one_invocation(spark, tmp_path):
    out = str(tmp_path / "out")
    vocab = str(tmp_path / "merges.txt")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "16", "PYTHONPATH": os.getcwd()}
    r = subprocess.run(
        [sys.executable, "jobs/run_quality_filter.py", *recipe_argv(tmp_path)],
        capture_output=True, text=True, timeout=900, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["n_keep"] > 0
    # every opted-in stage family left its mark or had nothing to drop —
    # the reason census only lists reasons that actually fired, so pin
    # the structural artifacts instead and sanity-check the census keys
    assert set(summary["drops_by_reason"]) <= {
        "null_text", "too_short", "low_alnum", "low_diversity", "char_run",
        "c4_lines", "fineweb", "script_mix", "domain_reputation",
        "quality_classifier", "semantic_dup", "mixture",
    }
    # the model stages bite: the distilled classifier and semantic dedup
    # both fire on this corpus
    assert summary["drops_by_reason"].get("quality_classifier", 0) > 0
    assert summary["drops_by_reason"].get("semantic_dup", 0) > 0
    # mixture may legitimately drop NOTHING here: the upstream model
    # stages leave a single-language survivor set, and a lone group
    # binds at rate 1.0 (its own stage test pins the dropping path)
    data = spark.read.parquet(out + "/data")
    assert {"pack_shard", "pack_bin", "pack_tokens"} <= set(data.columns)
    assert spark.read.parquet(out + "/dedup_index").count() > 0
    assert spark.read.parquet(out + "/domain_metrics").count() > 0
    merges = open(vocab, encoding="utf-8").read().splitlines()
    assert 0 < len(merges) <= 60
