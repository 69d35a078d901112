"""Sequence packing (operators/packing.py): pure-python row-for-row
reference, partitioning/batch-size invariance, capacity invariants, and
edge modes."""

import hashlib

import pytest
from pyspark.sql import functions as F

from harvesttext_spark.operators.packing import _ffd_pack, pack_sequences, pack_stats

MAX_TOKENS = 10
N_SHARDS = 4


def _shard(doc_id, seed=42, n_shards=N_SHARDS):
    if doc_id is None:
        return -1
    v = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:15], 16)
    return v % n_shards


def _py_pack(rows, max_tokens=MAX_TOKENS, n_shards=N_SHARDS):
    """Reference: shard by salted md5, FFD per shard in (tokens desc,
    id asc) order."""
    by_shard = {}
    for doc_id, n_tok in rows:
        by_shard.setdefault(_shard(doc_id, n_shards=n_shards), []).append(
            (doc_id, n_tok)
        )
    out = {}
    for sh, members in by_shard.items():
        members.sort(key=lambda t: (-t[1], t[0]))
        bins = _ffd_pack([n for _, n in members], max_tokens)
        for (doc_id, n_tok), b in zip(members, bins):
            out[doc_id] = (sh, b, n_tok, n_tok > max_tokens)
    return out


ROWS = [(i, "tok " * ((i * 7) % 10 + 1)) for i in range(60)] + [
    (200, "x " * 25),  # oversize: singleton bin
    (201, None),  # null text: 0 tokens, packs normally
]


def _df(spark, parts=4):
    return spark.createDataFrame(ROWS, "doc_id bigint, text string").repartition(parts)


def _counts():
    return [(i, len(t.split()) if t else 0) for i, t in ROWS]


def test_pack_matches_python_reference(spark):
    got = {
        r["doc_id"]: (r["pack_shard"], r["pack_bin"], r["pack_tokens"], r["oversize"])
        for r in pack_sequences(
            _df(spark), MAX_TOKENS, n_shards=N_SHARDS
        ).collect()
    }
    want = _py_pack(_counts())
    assert got == want


def test_pack_partitioning_and_batch_invariant(spark):
    base = sorted(
        map(
            tuple,
            pack_sequences(_df(spark, 1), MAX_TOKENS, n_shards=N_SHARDS)
            .select("doc_id", "pack_shard", "pack_bin")
            .collect(),
        )
    )
    many = sorted(
        map(
            tuple,
            pack_sequences(_df(spark, 13), MAX_TOKENS, n_shards=N_SHARDS)
            .select("doc_id", "pack_shard", "pack_bin")
            .collect(),
        )
    )
    assert base == many
    # tiny Arrow batches: a shard's rows arrive split across batches —
    # the per-partition concat must reassemble them before packing or
    # bin ids collide / capacity breaks
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        tiny = sorted(
            map(
                tuple,
                pack_sequences(_df(spark, 2), MAX_TOKENS, n_shards=N_SHARDS)
                .select("doc_id", "pack_shard", "pack_bin")
                .collect(),
            )
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert tiny == base


def test_capacity_invariant_and_oversize(spark):
    packed = pack_sequences(_df(spark), MAX_TOKENS, n_shards=N_SHARDS)
    stats = pack_stats(packed, MAX_TOKENS).collect()
    for r in stats:
        if r["has_oversize"]:
            assert r["n_docs"] == 1  # oversize docs pack alone
        else:
            assert r["n_tokens"] <= MAX_TOKENS
    over = packed.filter("oversize").collect()
    assert [r["doc_id"] for r in over] == [200]


def test_null_id_reserved_shard(spark):
    df = spark.createDataFrame(
        [(None, "a b c"), (1, "d e")], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r["pack_shard"]
        for r in pack_sequences(df, 5, n_shards=N_SHARDS).collect()
    }
    assert got[None] == -1 and got[1] == _shard(1)


def test_precomputed_token_count_col(spark):
    df = _df(spark).withColumn("n_tok", F.size(F.split("text", " ")) - 1)
    via_text = pack_sequences(_df(spark), MAX_TOKENS, n_shards=N_SHARDS)
    via_col = pack_sequences(
        df, MAX_TOKENS, token_count_col="n_tok", n_shards=N_SHARDS
    )
    a = sorted(map(tuple, via_text.select("doc_id", "pack_shard", "pack_bin").collect()))
    b = sorted(map(tuple, via_col.select("doc_id", "pack_shard", "pack_bin").collect()))
    # "tok " * n splits to n tokens + trailing '' -> size-1 == token_count
    assert a == b


def test_fill_efficiency(spark):
    """FFD must actually pack: on uniform 1..10-token docs with budget 10
    the mean fill of multi-doc bins should be well above half."""
    packed = pack_sequences(_df(spark), MAX_TOKENS, n_shards=N_SHARDS)
    stats = [
        r["fill_ratio"]
        for r in pack_stats(packed, MAX_TOKENS).collect()
        if not r["has_oversize"]
    ]
    assert sum(stats) / len(stats) > 0.6


def test_rejects_bad_budget(spark):
    with pytest.raises(ValueError):
        pack_sequences(_df(spark), 0)


def test_pack_tokenizer_bpe_counts_subwords(spark):
    """--pack-tokenizer bpe: pack_tokens must equal the BPE subword
    count (whitespace words under-count subwords, so the same doc packs
    fatter under bpe), and the bin capacity invariant holds on the
    subword measure."""
    from pyspark.sql import functions as F

    from jobs.run_quality_filter import apply_packing

    rows = [
        (f"https://p{i}.x/", "internationalization antidisestablishment "
         f"floccinaucinihilipilification row {i}", True, None)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    ws = apply_packing(df, 64, tokenizer="ws").collect()
    bpe = apply_packing(df, 64, tokenizer="bpe", bpe_merges=20).collect()
    ws_tok = {r["url"]: r["pack_tokens"] for r in ws}
    bpe_tok = {r["url"]: r["pack_tokens"] for r in bpe}
    # 20 merges leave long words split into many subwords
    assert all(bpe_tok[u] > ws_tok[u] for u in ws_tok)
    # capacity invariant on the subword measure: multi-doc bins fit the
    # budget; only oversize singletons may exceed it
    bins = {}
    for r in bpe:
        key = (r["pack_shard"], r["pack_bin"])
        tot, n, any_over = bins.get(key, (0, 0, False))
        bins[key] = (tot + r["pack_tokens"], n + 1, any_over or r["oversize"])
        assert r["oversize"] == (r["pack_tokens"] > 64)
    for tot, n, any_over in bins.values():
        if n > 1:
            assert tot <= 64 and not any_over
        elif tot > 64:
            assert any_over


# --- mixture-aware epoch packing (round 8) ---------------------------------


def test_pack_epochs_per_copy_membership_and_reference(spark):
    """Every (doc, copy) pair gets exactly one slot; the assignment
    matches the pure-python reference over the SALTED per-copy ids
    (copy ordinal in the id salt — the doc's epochs are independent
    pack items); zero/NULL copies emit nothing."""
    from harvesttext_spark.operators.packing import pack_epochs

    rows = [
        ("a", 4, 3),
        ("b", 7, 1),
        ("c", 2, 2),
        ("d", 9, None),  # dropped doc: no slots
        ("e", 5, 0),     # zero copies: no slots
        ("f", 25, 2),    # oversize per copy
    ]
    df = spark.createDataFrame(rows, "doc_id string, ntok bigint, mix_copies int")
    got = {
        (r["doc_id"], r["mix_copy"]): (
            r["pack_shard"], r["pack_bin"], r["pack_tokens"], r["oversize"]
        )
        for r in pack_epochs(
            df, MAX_TOKENS, id_col="doc_id", token_count_col="ntok"
        ).collect()
    }
    expected_slots = {("a", 0), ("a", 1), ("a", 2), ("b", 0), ("c", 0),
                      ("c", 1), ("f", 0), ("f", 1)}
    assert set(got) == expected_slots
    # capacity invariant per bin (excluding oversize singletons)
    from collections import defaultdict

    fill = defaultdict(int)
    for (d, c), (sh, b, n, ov) in got.items():
        if not ov:
            fill[(sh, b)] += n
        else:
            assert n > MAX_TOKENS
    assert all(v <= MAX_TOKENS for v in fill.values())
    # copies carry the doc's token count and oversize flag uniformly
    for c in range(3):
        assert got[("a", c)][2] == 4
    assert got[("f", 0)][3] and got[("f", 1)][3]


def test_pack_epochs_deterministic_and_copies_spread(spark):
    """Partition-invariant (resume rule) and epoch copies of one doc
    are independent pack items — with many copies over many shards at
    least two copies land in different shards (ordinal-salted hash)."""
    from harvesttext_spark.operators.packing import pack_epochs

    rows = [(f"doc{i}", (i % 9) + 1, 4) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, ntok bigint, mix_copies int")
    a = sorted(
        tuple(r)
        for r in pack_epochs(df, MAX_TOKENS, id_col="doc_id", token_count_col="ntok").collect()
    )
    b = sorted(
        tuple(r)
        for r in pack_epochs(
            df.repartition(13), MAX_TOKENS, id_col="doc_id", token_count_col="ntok"
        ).collect()
    )
    assert a == b
    assert len(a) == 160
    by_doc = {}
    for doc_id, copy, sh, b_, n, ov in a:
        by_doc.setdefault(doc_id, set()).add(sh)
    assert any(len(s) > 1 for s in by_doc.values())


def test_pack_manifest_job_composition(spark, tmp_path):
    """--pack-max-tokens x --mixture-spec end-to-end (subprocess): the
    manifest lands with one row per (kept doc, mix copy), respects the
    capacity invariant, and the summary reports its row count."""
    import json
    import subprocess
    import sys

    spec = tmp_path / "mix.json"
    spec.write_text(
        json.dumps(
            {
                "group_by": "lang_pred",
                "fractions": {"zh": 0.5, "en": 0.25, "es": 0.25},
                "max_repeat": 3,
            }
        )
    )
    out_dir = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable, "jobs/run_quality_filter.py",
            "--synthesize", "800", "--output", str(out_dir),
            "--mixture-spec", str(spec),
            "--pack-max-tokens", "64",
        ],
        capture_output=True, text=True, cwd="/root/repo",
        env={**__import__("os").environ, "PYTHONPATH": "/root/repo"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # two model stages on, no --stage-dir: the input and the mixture
    # stage are cut in memory, each with its own numbered timing line
    cuts = [
        ln.split(":")[0] for ln in proc.stderr.splitlines()
        if ln.startswith("# model_stage")
    ]
    assert cuts == ["# model_stage_00", "# model_stage_01"]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    man = spark.read.parquet(str(out_dir / "pack_manifest"))
    data = spark.read.parquet(str(out_dir / "data"))
    n_man = man.count()
    assert summary["pack_manifest_rows"] == n_man
    # one row per (kept url, copy ordinal), copies == mix_copies
    per_url = {r["url"]: r["n"] for r in man.groupBy("url").agg(F.count("*").alias("n")).collect()}
    expected = {
        r["url"]: r["mix_copies"]
        for r in data.filter("keep").select("url", "mix_copies").collect()
    }
    assert per_url == {u: c for u, c in expected.items()}
    assert man.filter("mix_copy >= 3 or mix_copy < 0").count() == 0
    # capacity invariant
    bad = (
        man.filter(~F.col("oversize"))
        .groupBy("pack_shard", "pack_bin")
        .agg(F.sum("pack_tokens").alias("tot"))
        .filter(F.col("tot") > 64)
        .count()
    )
    assert bad == 0
    # the main table did NOT grow pack columns in manifest mode
    assert "pack_bin" not in data.columns


def test_read_packed_export_both_shapes(spark, tmp_path):
    """The export reader joins text back for BOTH job shapes: epoch
    manifest (one row per copy) and per-row pack columns (mix_copy 0);
    slot count, text attachment, and the within-bin FFD order hold."""
    from harvesttext_spark.operators.packing import read_packed_export

    out = tmp_path / "out"
    data_rows = [
        ("https://a.x/", "alpha text", True, 2, 0, 3, 4, False),
        ("https://b.x/", "beta text", True, 1, 0, 3, 6, False),
        ("https://dead.x/", "gone", False, None, None, None, None, None),
    ]
    spark.createDataFrame(
        data_rows,
        "url string, text_clean string, keep boolean, mix_copies int, "
        "pack_shard int, pack_bin int, pack_tokens bigint, oversize boolean",
    ).write.parquet(str(out / "data"))

    # shape 1: per-row pack columns, no manifest
    got = read_packed_export(spark, str(out)).collect()
    assert len(got) == 2
    by_url = {r["url"]: r for r in got}
    assert by_url["https://a.x/"]["text"] == "alpha text"
    assert all(r["mix_copy"] == 0 for r in got)
    # FFD order within the shared bin: tokens desc
    in_bin = [r for r in got if (r["pack_shard"], r["pack_bin"]) == (0, 3)]
    assert [r["pack_tokens"] for r in in_bin] == sorted(
        [r["pack_tokens"] for r in in_bin], reverse=True
    )

    # shape 2: epoch manifest takes precedence
    man_rows = [
        ("https://a.x/", 0, 5, 1, 4, False),
        ("https://a.x/", 1, 6, 2, 4, False),
        ("https://b.x/", 0, 5, 1, 6, False),
    ]
    spark.createDataFrame(
        man_rows,
        "url string, mix_copy int, pack_shard int, pack_bin int, "
        "pack_tokens bigint, oversize boolean",
    ).write.parquet(str(out / "pack_manifest"))
    got2 = read_packed_export(spark, str(out)).collect()
    assert len(got2) == 3
    copies_a = sorted(
        r["mix_copy"] for r in got2 if r["url"] == "https://a.x/"
    )
    assert copies_a == [0, 1]
    assert all(r["text"] in ("alpha text", "beta text") for r in got2)

    # no packing anywhere -> clear error
    import shutil

    import pytest as _pytest

    shutil.rmtree(str(out / "pack_manifest"))
    spark.createDataFrame(
        [("https://a.x/", "alpha text", True)],
        "url string, text_clean string, keep boolean",
    ).write.mode("overwrite").parquet(str(out / "data"))
    with _pytest.raises(ValueError, match="pack_manifest"):
        read_packed_export(spark, str(out))
