"""Tokenization splice + TextTiling + rule patterns."""

import os

import pytest
from pyspark.sql import functions as F

from harvesttext_spark.functions.tokenize import seg_py, seg_documents
from harvesttext_spark.operators.linking import EntityKB
from harvesttext_spark.operators.patterns import (
    all_english,
    contains,
    find_entities_with_rule,
    upper_first,
    with_length,
)
from harvesttext_spark.operators.texttile import (
    align_boundaries,
    cut_paragraphs,
    cut_paragraphs_py,
    depth_scores,
)

KB = EntityKB.from_triples(
    [("武磊", "武磊", "球员"), ("武球王", "武磊", "球员"), ("上港", "上海上港", "球队")]
)


def test_seg_entity_splice_surface():
    toks = seg_py("上港的武球王进球了", KB)
    assert toks[0] == "上港"
    assert "武球王" in toks  # surface kept by default
    assert "".join(toks) == "上港的武球王进球了"


def test_seg_entity_splice_standard():
    toks = seg_py("上港的武球王进球了", KB, standard_name=True)
    assert "武磊" in toks and "上海上港" in toks


def test_seg_posseg_types():
    pairs = seg_py("上港的武磊 scored 2 goals", KB, with_pos=True)
    d = dict(pairs)
    assert d["上港"] == "球队" and d["武磊"] == "球员"
    assert d["scored"] == "eng" and d["2"] == "m"


def test_seg_stopwords_skip_nonentities_only():
    toks = seg_py("上港的武磊", KB, stopwords=["的", "上港"])
    # 的 removed; 上港 is an ENTITY so the stopword filter must not touch it
    assert toks == ["上港", "武磊"]


def test_seg_documents_operator(spark):
    df = spark.createDataFrame([(1, "上港的武球王")], "doc_id long, text string")
    out = seg_documents(df, KB, standard_name=True).first()
    assert out["words"] == ["上海上港", "的", "武磊"]
    out2 = seg_documents(df, KB, with_pos=True).first()
    assert out2["words"][0]["pos"] == "球队"


def test_depth_scores_peak_valley():
    # valley between two detected peaks -> deepest depth there (reference
    # semantics: peaks register only on down-steps within sims[:-2])
    sims = [0.9, 0.1, 0.9, 0.2, 0.5]
    d = depth_scores(sims)
    assert max(range(len(d)), key=lambda i: d[i]) == 1


def _load_reference_texttile():
    import importlib.util, types

    spec = importlib.util.spec_from_file_location(
        "refutils", "/root/reference/harvesttext/algorithms/utils.py"
    )
    refutils = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(refutils)
    src = open("/root/reference/harvesttext/algorithms/texttile.py").read().replace(
        "from .utils import sent_sim_cos", ""
    )
    mod = types.ModuleType("reftile")
    mod.sent_sim_cos = refutils.sent_sim_cos
    import numpy as np

    mod.np = np
    exec(compile(src, "texttile.py", "exec"), mod.__dict__)
    return mod.TextTile()


@pytest.mark.skipif(
    not os.path.exists("/root/reference/harvesttext/algorithms/texttile.py"),
    reason="needs the reference HarvestText checkout",
)
def test_depth_and_align_property_parity_vs_reference():
    """200 random cases each against the reference implementation loaded
    from /root/reference (read-only; executed, not copied)."""
    import random

    ref = _load_reference_texttile()
    rng = random.Random(0)
    for _ in range(200):
        sims = [round(rng.random(), 3) for _ in range(rng.randint(2, 12))]
        assert [round(x, 9) for x in depth_scores(sims)] == [
            round(x, 9) for x in ref.depth_scores(sims).tolist()
        ], sims
    for _ in range(200):
        n_orig = rng.randint(2, 8)
        orig = sorted(rng.sample(range(1, 30), n_orig))
        pred = sorted(rng.sample(range(1, 30), rng.randint(1, n_orig)))
        assert align_boundaries(list(pred), list(orig)) == ref._align_boundary(
            list(pred), list(orig)
        ), (pred, orig)


def test_align_boundaries():
    assert align_boundaries([3, 7], [2, 5, 8]) == [2, 8]


def test_cut_paragraphs_py_topic_shift():
    text = (
        "足球比赛非常精彩。武磊连续进球。球队获得冠军。\n"
        "股票市场今天大涨。投资者信心增强。股价创下新高。"
    )
    paras = cut_paragraphs_py(text, num_paras=2)
    assert len(paras) == 2
    assert "足球" in paras[0] and "股票" in paras[1]


def test_cut_paragraphs_operator(spark):
    df = spark.createDataFrame(
        [(1, "足球比赛精彩。武磊进球。\n股市大涨。股价新高。")],
        "doc_id long, text string",
    )
    out = cut_paragraphs(df, num_paras=2).orderBy("para_id").collect()
    assert [r["para_id"] for r in out] == [0, 1]


def test_find_with_rules_reference_golden(spark):
    """Reference test_find_with_rules (tests/test_functionality.py:209-233):
    the segmentation-independent assertions — AllEnglish finds
    {Python, requests}; (AllEnglish AND UpperFirst) finds {Python}; found
    entities registered into the KB get their type as posseg tag."""
    from harvesttext_spark.operators.patterns import (
        all_english as _ae,
        upper_first as _uf,
    )

    text0 = "我喜欢Python，因为requests库很适合爬虫"
    df = spark.createDataFrame([(0, text0)], "doc_id long, text string")
    toks = seg_documents(df, None).select("doc_id", "words")

    found = {
        r["word"] for r in find_entities_with_rule(toks, [_ae], words_col="words").collect()
    }
    assert found == {"Python", "requests"}

    found2 = {
        r["word"]
        for r in find_entities_with_rule(toks, [(_ae, _uf)], words_col="words").collect()
    }
    assert found2 == {"Python"}

    # register found entities -> posseg tags them with the type
    kb = EntityKB()
    for w in found:
        kb.add(w, w, "英文名")
    pairs = dict(seg_py(text0, kb, with_pos=True))
    assert pairs["Python"] == "英文名" and pairs["requests"] == "英文名"


def test_find_entities_with_rule(spark):
    df = spark.createDataFrame(
        [(1, ["Alice", "bob", "ab12", "武磊", "Zz"])], "doc_id long, words array<string>"
    )
    got = {
        r["word"]
        for r in find_entities_with_rule(
            df, [(all_english, upper_first)], words_col="words"
        ).collect()
    }
    assert got == {"Alice", "Zz"}
    got2 = {
        r["word"]
        for r in find_entities_with_rule(
            df, [with_length(4), contains("磊")], words_col="words"
        ).collect()
    }
    assert got2 == {"ab12", "武磊"}
