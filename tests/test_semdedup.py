"""SemDedup (operators/semdedup.py): pure-python keep-first reference
on deterministic vectors, planted-dup semantics, hot-cluster cap
equivalence (the max_band_df rigor), and the no-false-drop property of
the capped reference side.  Spark/DuckDB assignment + pair-scan value
parity is covered by the `semdedup` oracle in test_oracle_parity."""

import hashlib

import numpy as np

from harvesttext_spark.operators.semdedup import semdedup


def _det_vec(i, dim=8):
    """Deterministic pseudo-random unit-ish vector (md5-derived — no
    rand() anywhere, the fixture_centroids recipe)."""
    out = []
    for j in range(dim):
        h = hashlib.md5(f"sd:{i}:{j}".encode()).hexdigest()
        out.append(int(h[:8], 16) / float(0xFFFFFFFF) * 2 - 1)
    return out


def _py_semdedup(vecs, cents, threshold):
    """Reference: argmax-cosine assignment (first max wins), then
    keep-first against ALL smaller-id members of the same cluster."""
    C = np.array([c for _, c in sorted(cents)], dtype=np.float64)
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    cids = [cid for cid, _ in sorted(cents)]
    out = {}
    asg = {}
    for vid, v in vecs:
        u = np.array(v, dtype=np.float64)
        u = u / np.linalg.norm(u)
        asg[vid] = cids[int(np.argmax(C @ u))]
    for vid, v in sorted(vecs):
        u = np.array(v, dtype=np.float64)
        best = None
        for wid, w in sorted(vecs):
            if wid >= vid or asg[wid] != asg[vid]:
                continue
            x = np.array(w, dtype=np.float64)
            s = float(u @ x / (np.linalg.norm(u) * np.linalg.norm(x)))
            best = s if best is None else max(best, s)
        best = None if best is None else round(best, 4)
        out[vid] = (asg[vid], best, best is None or best < threshold)
    return out


CENTS = [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6)]


def _mk(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id bigint, embedding array<float>",
    )


def test_matches_python_reference(spark):
    vecs = [(i, _det_vec(i)) for i in range(40)]
    # planted: 100 copies 1 (same cluster, cos 1), 101 near-copy of 2
    vecs.append((100, _det_vec(1)))
    near = list(_det_vec(2))
    near[0] += 0.01
    vecs.append((101, near))
    cents = [(c, _det_vec(900 + c)) for c in range(4)]
    got = {
        r["vec_id"]: (r["centroid_id"], r["max_prior_sim"], r["semdedup_keep"])
        for r in semdedup(
            _mk(spark, vecs),
            spark.createDataFrame(cents, "centroid_id int, centroid array<double>"),
            threshold=0.95,
        ).collect()
    }
    ref = _py_semdedup(vecs, cents, 0.95)
    assert set(got) == set(ref)
    for vid in ref:
        assert got[vid][0] == ref[vid][0], vid
        a, b = got[vid][1], ref[vid][1]
        assert (a is None) == (b is None), vid
        if a is not None:
            assert abs(a - b) <= 1e-4, vid
        assert got[vid][2] == ref[vid][2], vid
    assert got[100][2] is False and got[101][2] is False
    assert got[1][2] is True and got[2][2] is True  # min ids survive


def test_cap_equivalence_under_cap(spark):
    """cap >= cluster size ==> bit-identical output (the max_band_df
    equivalence gate)."""
    vecs = [(i, _det_vec(i)) for i in range(30)]
    cents = [(c, _det_vec(900 + c)) for c in range(3)]
    cdf = spark.createDataFrame(cents, "centroid_id int, centroid array<double>")
    base = sorted(
        semdedup(_mk(spark, vecs), cdf, threshold=0.9).collect(),
        key=lambda r: r["vec_id"],
    )
    capped = sorted(
        semdedup(_mk(spark, vecs), cdf, threshold=0.9, max_cluster_df=1000).collect(),
        key=lambda r: r["vec_id"],
    )
    assert [tuple(r) for r in base] == [tuple(r) for r in capped]


def test_cap_never_false_drops(spark):
    """With an adversarial hot cluster (everyone on one axis), a tiny
    cap may UNDER-drop but must never drop anything the uncapped rule
    keeps, and each cluster's minimum id always survives."""
    e0 = [1.0] + [0.0] * 7
    vecs = []
    for i in range(50):
        v = list(e0)
        v[1] = 1e-4 * i  # all pairwise cos ~= 1: one giant ball
        vecs.append((i, v))
    cdf = spark.createDataFrame(CENTS, "centroid_id int, centroid array<double>")
    full = {
        r["vec_id"]: r["semdedup_keep"]
        for r in semdedup(_mk(spark, vecs), cdf, threshold=0.95).collect()
    }
    capped = {
        r["vec_id"]: r["semdedup_keep"]
        for r in semdedup(
            _mk(spark, vecs), cdf, threshold=0.95, max_cluster_df=5
        ).collect()
    }
    assert full[0] and capped[0]
    for vid, keep in full.items():
        if keep:
            assert capped[vid], vid  # no false drops
    # the cap still catches everything vouched for by the 5 smallest ids
    assert sum(1 for k in capped.values() if not k) == 49


def test_orthogonal_vectors_all_kept(spark):
    vecs = [(i, [0.0] * i + [1.0] + [0.0] * (7 - i)) for i in range(8)]
    cdf = spark.createDataFrame(CENTS, "centroid_id int, centroid array<double>")
    out = semdedup(_mk(spark, vecs), cdf, threshold=0.5).collect()
    assert all(r["semdedup_keep"] for r in out)


def test_word_hash_embedding_deterministic_and_normalized(spark):
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.semdedup import word_hash_embedding_udf

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta alpha gamma"), (3, ""), (4, None)],
        "id bigint, t string",
    )
    out = {
        r["id"]: r["v"]
        for r in df.select("id", word_hash_embedding_udf()(F.col("t")).alias("v")).collect()
    }
    # bag-of-words: order-insensitive -> identical embeddings
    assert out[1] == out[2]
    assert abs(sum(x * x for x in out[1]) - 1.0) < 1e-5
    assert all(x == 0.0 for x in out[3]) and all(x == 0.0 for x in out[4])


def test_semdedup_job_stage(spark):
    """--semdedup-threshold wiring: kept pages with the same word bag
    dedup to the lexicographically-smallest url; blank pages bypass;
    already-dropped rows keep their reason."""
    from harvesttext_spark.pipeline.stages import apply_semdedup

    text = "spark engines shuffle data across partitions every day"
    rows = [
        ("https://a.example/", text, True, None),
        ("https://b.example/", text, True, None),  # same bag -> dup
        ("https://c.example/", "totally different words entirely here now", True, None),
        ("https://blank.example/", "", True, None),
        ("https://gone.example/", text, False, "too_short"),
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    got = {
        r["url"]: r.asDict()
        for r in apply_semdedup(df, threshold=0.95, n_clusters=8).collect()
    }
    assert got["https://a.example/"]["keep"] is True
    assert got["https://b.example/"]["drop_reason"] == "semantic_dup"
    assert got["https://c.example/"]["keep"] is True
    assert got["https://blank.example/"]["keep"] is True
    assert got["https://gone.example/"]["drop_reason"] == "too_short"


def test_residual_split_preserves_results_when_no_hot_cluster(spark):
    """split_threshold above every cluster size ==> identical output."""
    from harvesttext_spark.operators.similarity import fixture_centroids

    vecs = [(i, _det_vec(i)) for i in range(30)]
    cents = spark.createDataFrame(
        [(c, _det_vec(900 + c)) for c in range(3)],
        "centroid_id int, centroid array<double>",
    )
    l2 = fixture_centroids(spark, dim=8, n_centroids=4, plane_base=9500)
    base = sorted(
        semdedup(_mk(spark, vecs), cents, threshold=0.9).collect(),
        key=lambda r: r["vec_id"],
    )
    split = sorted(
        semdedup(
            _mk(spark, vecs), cents, threshold=0.9,
            split_threshold=1000, split_centroids=l2,
        ).collect(),
        key=lambda r: r["vec_id"],
    )
    assert [tuple(r) for r in base] == [tuple(r) for r in split]


def test_residual_split_spreads_tight_cone_but_keeps_copies_together(spark):
    """A tight cone (all members ~one direction plus small distinct
    residuals) collapses onto one level-1 centroid; the residual split
    must spread it into multiple subclusters while EXACT copies stay
    co-located and are still dropped."""
    import numpy as np

    from harvesttext_spark.operators.similarity import fixture_centroids

    base_dir = np.array([1.0] + [0.0] * 7)
    vecs = []
    for i in range(60):
        r = np.array(_det_vec(i)) * 0.05  # small distinct residual
        v = base_dir + r
        vecs.append((i, [float(x) for x in v]))
    # exact copies of members 3 and 7 under larger ids
    vecs.append((100, list(vecs[3][1])))
    vecs.append((101, list(vecs[7][1])))
    cents = spark.createDataFrame(CENTS, "centroid_id int, centroid array<double>")
    l2 = fixture_centroids(spark, dim=8, n_centroids=8, plane_base=9500)
    out = {
        r["vec_id"]: r
        for r in semdedup(
            _mk(spark, vecs), cents, threshold=0.999,
            split_threshold=10, split_centroids=l2,
        ).collect()
    }
    # copies co-locate with their originals and drop
    assert out[100]["semdedup_keep"] is False
    assert out[101]["semdedup_keep"] is False
    assert out[100]["max_prior_sim"] == 1.0
    # the split genuinely spread the cone: with the scan keyed on
    # (centroid, sub), most tight-cone members see no >=0.999 prior
    kept = sum(1 for vid, r in out.items() if vid < 100 and r["semdedup_keep"])
    assert kept >= 50


# --- trained centroids (round 8: --semdedup-centroids trained) ------------


def _tight_cone(n, copies_of=(), dim=8):
    """Tight-cone corpus: every member ~one direction plus a small
    distinct residual (the fixture-plane failure shape), plus exact
    copies of the given members under larger ids."""
    import numpy as np

    base_dir = np.array([1.0] + [0.0] * (dim - 1))
    vecs = []
    for i in range(n):
        r = np.array(_det_vec(i, dim)) * 0.05
        vecs.append((i, [float(x) for x in base_dir + r]))
    for j, m in enumerate(copies_of):
        vecs.append((1000 + j, list(vecs[m][1])))
    return vecs


def test_train_semdedup_centroids_deterministic_unit_norm(spark):
    from harvesttext_spark.operators.semdedup import train_semdedup_centroids

    vdf = _mk(spark, [(i, _det_vec(i)) for i in range(50)])
    a = sorted(
        train_semdedup_centroids(vdf, 6, vec_col="embedding").collect(),
        key=lambda r: r["centroid_id"],
    )
    b = sorted(
        train_semdedup_centroids(vdf.repartition(7), 6, vec_col="embedding").collect(),
        key=lambda r: r["centroid_id"],
    )
    # deterministic under any input partitioning (md5-ordered sample)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == 6
    for r in a:
        assert abs(sum(x * x for x in r["centroid"]) - 1.0) < 1e-9


def test_trained_centroids_recall_without_split_where_fixture_misses(spark):
    """The VERDICT #2 claim at test scale: on a tight cone the fixture
    planes collapse everything onto one cluster, the reference cap
    trims the window, and a copy of a LATE member is missed; trained
    centroids spread the cone so every copy is caught with NO residual
    split, while non-copy members survive."""
    from harvesttext_spark.operators.semdedup import (
        semdedup,
        train_semdedup_centroids,
    )

    vecs = _tight_cone(60, copies_of=(40, 55))
    vdf = _mk(spark, vecs)
    cdf = spark.createDataFrame(CENTS, "centroid_id int, centroid array<double>")
    fixture = {
        r["vec_id"]: r["semdedup_keep"]
        for r in semdedup(vdf, cdf, threshold=0.999, max_cluster_df=10).collect()
    }
    # fixture path, capped, no split: the copies' originals (ids 40, 55)
    # sit outside the 10-smallest-id reference window -> missed dups
    assert fixture[1000] is True and fixture[1001] is True
    trained = train_semdedup_centroids(vdf, 8, vec_col="embedding")
    got = {
        r["vec_id"]: r
        for r in semdedup(vdf, trained, threshold=0.999, max_cluster_df=10).collect()
    }
    # balanced clusters: the originals now sit inside their copies'
    # reference windows -> both copies caught, sim exactly 1
    assert got[1000]["semdedup_keep"] is False
    assert got[1001]["semdedup_keep"] is False
    assert got[1000]["max_prior_sim"] == 1.0 and got[1001]["max_prior_sim"] == 1.0
    # distinct cone members (pairwise cos ~0.9975 < 0.999) mostly survive
    kept = sum(1 for vid, r in got.items() if vid < 1000 and r["semdedup_keep"])
    assert kept >= 50
    # and the clusters are genuinely spread (no collapse onto one id)
    from collections import Counter

    sizes = Counter(r["centroid_id"] for r in got.values())
    assert len(sizes) >= 4 and max(sizes.values()) <= 30


def test_train_semdedup_centroids_two_level_path(spark):
    """Force the hierarchical trainer (two_level_above below k): output
    stays deterministic, leaf count matches the target, and exact
    copies still co-locate and drop through the flat assignment."""
    from harvesttext_spark.operators.semdedup import (
        semdedup,
        train_semdedup_centroids,
    )

    vecs = _tight_cone(80, copies_of=(33, 61))
    vdf = _mk(spark, vecs)
    a = train_semdedup_centroids(vdf, 9, vec_col="embedding", two_level_above=4)
    b = train_semdedup_centroids(vdf, 9, vec_col="embedding", two_level_above=4)
    ra = sorted(tuple(r) for r in a.collect())
    assert ra == sorted(tuple(r) for r in b.collect())
    assert 1 <= len(ra) <= 9
    got = {
        r["vec_id"]: r["semdedup_keep"]
        for r in semdedup(vdf, a, threshold=0.999, max_cluster_df=25).collect()
    }
    assert got[1000] is False and got[1001] is False


def test_semdedup_job_stage_trained_centroids(spark):
    """--semdedup-centroids trained wiring: same dup/bypass semantics
    as the fixture path on the job-stage fixture."""
    from harvesttext_spark.pipeline.stages import apply_semdedup

    text = "spark engines shuffle data across partitions every day"
    rows = [
        ("https://a.example/", text, True, None),
        ("https://b.example/", text, True, None),  # same bag -> dup
        ("https://c.example/", "totally different words entirely here now", True, None),
        ("https://blank.example/", "", True, None),
        ("https://gone.example/", text, False, "too_short"),
    ]
    df = spark.createDataFrame(
        rows, "url string, text_clean string, keep boolean, drop_reason string"
    )
    got = {
        r["url"]: r.asDict()
        for r in apply_semdedup(
            df, threshold=0.95, n_clusters=4, centroid_mode="trained"
        ).collect()
    }
    assert got["https://a.example/"]["keep"] is True
    assert got["https://b.example/"]["drop_reason"] == "semantic_dup"
    assert got["https://c.example/"]["keep"] is True
    assert got["https://blank.example/"]["keep"] is True
    assert got["https://gone.example/"]["drop_reason"] == "too_short"


def test_semdedup_trained_centroids_matches_python_reference(spark):
    """Value-grade pin for the trained path (round 8): run the FULL
    scan over the trainer's own output and compare row-for-row against
    the pure-python keep-first reference evaluated on the SAME
    collected centroid table — assignment, max_prior_sim, and the keep
    decision all pinned with data-derived (non-fixture) centroids."""
    from harvesttext_spark.operators.semdedup import (
        semdedup,
        train_semdedup_centroids,
    )

    vecs = [(i, _det_vec(i)) for i in range(40)]
    vecs.append((100, _det_vec(7)))  # exact copy under a larger id
    vdf = _mk(spark, vecs)
    cents_df = train_semdedup_centroids(vdf, 5, vec_col="embedding")
    cents = [(r["centroid_id"], r["centroid"]) for r in cents_df.collect()]
    got = {
        r["vec_id"]: (r["centroid_id"], r["max_prior_sim"], r["semdedup_keep"])
        for r in semdedup(vdf, cents_df, threshold=0.95).collect()
    }
    ref = _py_semdedup(vecs, cents, 0.95)
    assert set(got) == set(ref)
    for vid in ref:
        assert got[vid][0] == ref[vid][0], vid
        a, b = got[vid][1], ref[vid][1]
        assert (a is None) == (b is None), vid
        if a is not None:
            assert abs(a - b) <= 1e-4, vid
        assert got[vid][2] == ref[vid][2], vid
    assert got[100][2] is False and got[7][2] is True
