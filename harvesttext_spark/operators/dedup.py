"""Deduplication operators for a web-scale training-data pipeline:
exact, MinHash+LSH, SimHash, n-gram Jaccard.

Engine additions (not in the reference NLP library) required by the
quality-filter north star.  Design constraints:
  * everything is expressed with engine-portable primitives (md5 hex
    strings, array ops) so the DuckDB oracle can verify VALUES, not just
    row counts — the only exception is the xxhash64 production fast path;
  * no driver-side state; candidate generation is always a shuffle on a
    bounded key (hash / band bucket), never an O(n²) cross join.

Scale notes (100 TB):
  * exact dedup  — one shuffle on a 128-bit digest; AQE coalesces.
  * MinHash LSH  — signature via explode + codegen min-aggregates
    (map-side partials collapse the shingle stream to one row per doc
    before the shuffle); the band join shuffles (band_idx, band_key)
    which is uniform by construction (hash values), so no salting.
  * SimHash      — per-row fold; near-dup candidates join on rotated
    prefix buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- exact dedup -----------------------------------------------------------


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(digest, n_dups, keep_id) for every text appearing more than once;
    keep_id = min doc id (deterministic survivor)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def drop_exact_dups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per identical text (window-free: self-join on the
    winning id is a shuffle on digest, no global sort)."""
    winners = docs.groupBy(F.md5(F.col(text_col)).alias("digest")).agg(
        F.min(id_col).alias(id_col)
    )
    return docs.join(winners, id_col, "semi")


# --- shingles ---------------------------------------------------------------


def token_shingles(text: Column, n: int = 3) -> Column:
    """Distinct token n-gram shingles (space-joined), portable SQL shape."""
    toks = F.filter(F.split(text, "\\s+"), lambda t: t != "")
    k = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def char_shingles(text: Column, n: int = 5) -> Column:
    chars = F.filter(F.split(text, ""), lambda c: c != "")
    k = F.size(chars) - (n - 1)
    return F.array_distinct(
        F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(chars, i, n), ""),
            ),
        ).otherwise(F.array(F.array_join(chars, "")))
    )


# --- MinHash + LSH -----------------------------------------------------------

HEX_DIGITS = "0123456789abcdef"
M32 = 4294967296  # 2^32


def _hex_to_long(h: Column) -> Column:
    """Hex string -> bigint.  Spark's builtin conv() — 3x faster than an
    array digit fold (measured 0.55s vs 1.51s / 5k docs).  The DuckDB
    oracle mirrors with a strpos digit fold; values are identical."""
    return F.conv(h, 16, 10).cast("bigint")


def minhash_hashpair(shingles: Column) -> Column:
    """ONE md5 per shingle -> (h1, h2) 32-bit ints (Kirsch-Mitzenmacher
    base hashes).  Materialize this as a column BEFORE computing the
    signature so the md5 work is done once, not k times."""
    return F.transform(
        shingles,
        lambda s: F.struct(
            _hex_to_long(F.substring(F.md5(s), 1, 8)).alias("h1"),
            _hex_to_long(F.substring(F.md5(s), 9, 8)).alias("h2"),
        ),
    )


def minhash_signature_from_pairs(hs: Column, k: int = 16) -> Column:
    """Signature component i = min over shingles of (h1 + i*h2) mod 2^32 —
    pure arithmetic over the precomputed hash pairs."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(hs, lambda p: (p["h1"] + i * p["h2"]) % M32)
        ),
    )


def minhash_signature(shingles: Column, k: int = 16) -> Column:
    """Single-expression convenience (small inputs / oracle parity): for the
    hot path use minhash_signature_frame — value-identical, 14x faster."""
    return minhash_signature_from_pairs(minhash_hashpair(shingles), k)


def minhash_signature_frame(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    k: int = 16,
    shingle_sample_mod: int | None = None,
) -> DataFrame:
    """(id, sig array<bigint>) — the HOT-PATH signature shape: explode the
    shingles and compute the k mins as ORDINARY aggregate expressions.

    Value-identical to ``minhash_signature`` (same md5 -> (h1, h2) ->
    min(h1 + i*h2 mod 2^32) arithmetic; the DuckDB oracle is untouched)
    but 14x faster measured (30k docs, local[32]: 4.9s vs 71.3s): the
    nested higher-order-function fold evaluates INTERPRETED per element
    (lambda functions don't participate in whole-stage codegen, and the
    md5 inside the struct lambda runs once per field — no CSE inside
    lambdas), while explode + groupBy(id) + 16 min() aggs is end-to-end
    codegen with map-side partial aggregation — the shuffle carries one
    16-column row per doc, not the shingle stream.

    Docs whose text yields no shingles (NULL text) keep a row with NULL
    components (min over no non-null input), matching the lazy shape's
    NULL signature for downstream band-explode purposes.

    ``shingle_sample_mod=p`` (opt-in, round 6) applies the standard
    sketch-thinning rule: keep a shingle iff an INDEPENDENT md5 channel
    (hex chars 17-24 — disjoint from the h1/h2 minhash channels, so no
    hash-i=0 bias) is ≡ 0 mod p.  Sampling is content-deterministic, so
    any two docs sample the SAME shingle subset and signature equality
    still estimates Jaccard over the (1/p-thinned) shingle universe —
    this CHANGES dedup semantics (short docs may thin to no shingles →
    NULL signature; borderline pairs can flip), which is why it is a
    parameter, never a default.  Measured at 1.2M pages in BENCH.md
    (recall vs the exact signature per p, alongside the speedup).
    ``None``/``1`` ⇒ bit-identical to the exact signature (pinned by
    test_minhash_shingle_sampling)."""
    ex = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(token_shingles(F.col(text_col), shingle_n)).alias("s"),
        )
        .select("id", F.md5("s").alias("hx"))
    )
    if shingle_sample_mod is not None and shingle_sample_mod > 1:
        ex = ex.filter(
            _hex_to_long(F.substring("hx", 17, 8)) % shingle_sample_mod == 0
        )
    ex = ex.select(
        "id",
        _hex_to_long(F.substring("hx", 1, 8)).alias("h1"),
        _hex_to_long(F.substring("hx", 9, 8)).alias("h2"),
    )
    aggs = [
        F.min((F.col("h1") + i * F.col("h2")) % M32).alias(f"_m{i}")
        for i in range(k)
    ]
    return ex.groupBy("id").agg(*aggs).select(
        "id", F.array(*[f"_m{i}" for i in range(k)]).alias("sig")
    )


def minhash_bands(sig: Column, bands: int, rows: int) -> Column:
    """array<struct<band:int, key:string>> — md5 of each band's slice."""
    sig_str = F.transform(sig, lambda v: v.cast("string"))
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(F.array_join(F.slice(sig_str, b * rows + 1, rows), ",")).alias("key"),
        ),
    )


DEFAULT_MAX_BAND_DF = 256
"""Default hot-band cap for ``minhash_dup_pairs`` (interpolated into the
DuckDB oracle too, so Spark and oracle stay pinned together)."""


def _max_bucket_size(bands_df: DataFrame) -> int:
    """Largest (band, key) bucket membership — the count probe guarding
    the hot-band WindowGroupLimit.  groupBy().count() partial-aggregates
    map-side (one tiny row per bucket per input partition crosses the
    wire), then a scalar max; bounded driver collect (1 row)."""
    row = (
        bands_df.groupBy("band", "key")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]
    )
    return int(row["mx"]) if row["mx"] is not None else 0


def minhash_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.5,
    eager_cleanup: bool = False,
    shingle_sample_mod: int | None = None,
    max_band_df: int | None = DEFAULT_MAX_BAND_DF,
) -> DataFrame:
    """LSH candidate pairs with signature-estimated Jaccard:
    (id_a, id_b, est_jaccard), id_a < id_b.

    rows-per-band = num_hashes / bands; a pair collides if any band agrees.
    est_jaccard = fraction of equal signature components.
    ``eager_cleanup=True`` checkpoints the result and unpersists the
    signature cache before returning — for long-lived sessions calling
    this repeatedly (see inline note).
    ``shingle_sample_mod=p`` opts into 1/p shingle thinning before the
    signature (see minhash_signature_frame — a SEMANTIC change, measured
    in BENCH.md, never a default).

    ``max_band_df`` is the HOT-BAND cap — the 100 TB guard the band
    self-join was missing (the analog of ``jaccard_dup_pairs``'s
    ``max_shingle_df``).  The raw ``a.join(b, [band, key])`` is quadratic
    in bucket membership: exact dedup first is mandatory (a real 1.2M-page
    crawl carried a 19,418-member exact-dup cluster = 1.19e9 intra-band
    pairs), but NEAR-identical template families (boilerplate pages
    differing by a date) survive exact dedup and can still produce
    million-member buckets at crawl scale -> 10^12-pair joins.  The cap
    ranks each (band, key) bucket's members by id (deterministic) and
    keeps only the first ``max_band_df`` as LEFT-side representatives;
    the right side stays full.  Per bucket of size n this emits
    n*min(n, B) - ... pairs instead of n^2/2 — linear in n once n > B.

    Semantics under the cap: for buckets <= B the output is BIT-IDENTICAL
    to the uncapped join (every member has rank <= B, and the pair
    (a, b) with a.id < b.id always has a on the representative side or is
    emitted from the bucket where it does).  For oversized buckets every
    member still pairs with ALL B smallest-id representatives, so the
    bucket stays one connected candidate component and
    ``drop_near_dups``'s connected-components consumption yields the same
    survivor per template family; only rep-to-rep estimates are complete,
    non-rep/non-rep pairs are delegated to their shared representatives
    (equivalence-gated + planted-family survivor test in
    tests/test_dedup_similarity.py; 1.2M-page planted-100k-family
    measurement in BENCH.md).  ``None`` disables the cap (oracle parity
    on pathological fixtures).

    The cap's WindowGroupLimit only runs when a cheap count probe
    (``_max_bucket_size``) finds at least one bucket over the cap —
    under-cap corpora (the common case after exact-dedup-first) pay one
    tiny partial-agg instead of a full (band, key) exchange + sort, with
    bit-identical output.
    """
    rows = num_hashes // bands
    # explode + codegen min-aggs (minhash_signature_frame — 14x the HOF
    # shape).  The signature table is PERSISTED — it feeds the band
    # explode AND two probe joins; without it the whole chain re-executes
    # per branch (measured 3-4x slower).  At 100TB this is a checkpointed
    # signature table on storage, not a cache.
    sig = minhash_signature_frame(
        docs, text_col, id_col, shingle_n, num_hashes, shingle_sample_mod
    )
    # bounded cache by DEFAULT (round 3): at most ONE cached signature
    # table per session, keyed by plan (see session.plan_keyed_persist) —
    # zero extra materialization cost vs eager_cleanup's ~4s checkpoint.
    from harvesttext_spark.session import plan_keyed_persist

    sig = plan_keyed_persist(sig, "minhash_sig")
    bands_df = sig.select(
        "id", F.explode(minhash_bands(F.col("sig"), bands, rows)).alias("b")
    ).select("id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))

    # ONE eager action before branching serves two needs at once:
    # materialize the persisted sig (three consumers referencing a lazy
    # cache inside one job race the cache and recompute the md5 chain per
    # branch — measured 3-4x) AND, when the cap is armed, probe the
    # largest (band, key) bucket.  The probe consumes sig, so running it
    # populates the cache as a side effect — same job count as the old
    # bare sig.count(), no extra launch (round 8, VERDICT #3).
    if max_band_df is not None:
        need_cap = _max_bucket_size(bands_df) > max_band_df
    else:
        sig.count()
        need_cap = False

    if need_cap:
        # hot-band cap: left side = the max_band_df smallest ids per
        # (band, key).  Spark 4 plans this as WindowGroupLimit with a
        # PARTIAL pass before the (band, key) exchange (pinned by
        # tests/test_dedup_similarity.py): each map task pre-trims its
        # slice of a hot bucket to the cap, so a million-member bucket
        # ships at most cap rows per input partition on the left side,
        # and the post-shuffle sort satisfies the merge-join ordering.
        #
        # The cap is GUARDED by a count probe (round 8, VERDICT #3): the
        # WindowGroupLimit costs a full (band, key) exchange + sort even
        # when no bucket is anywhere near the cap — and after
        # exact-dedup-first that IS the common case.  One partial-agg
        # count (map-side combine -> one tiny row per bucket -> scalar
        # max, reading the already-persisted signature cache) decides;
        # under-cap corpora skip the window entirely, which is
        # bit-identical output by the cap's own <=-cap semantics.
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "key").orderBy("id")
        a = (
            bands_df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_band_df)
            .drop("_rk")
            .alias("a")
        )
    else:
        a = bands_df.alias("a")
    b = bands_df.alias("b")
    pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    with_sigs = pairs.join(
        sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_hashes))
    ).alias("est_jaccard")
    out = with_sigs.select("id_a", "id_b", est).filter(
        F.col("est_jaccard") >= min_jaccard
    )
    if eager_cleanup:
        # immediate release: materialize the (small) pair result, then
        # unpersist THIS call's signatures too (the default only evicts on
        # the next call).  Costs an extra materialization (measured ~4s at
        # sf0.1), hence opt-in.
        from harvesttext_spark.session import _persist_slots

        out = out.localCheckpoint(eager=True)
        sig.unpersist()
        _persist_slots.pop("minhash_sig", None)
    return out


def drop_near_dups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Production dedup tail: near-dup PAIRS (from MinHash/SimHash/embedding
    candidates) -> transitive duplicate CLUSTERS (connected components) ->
    keep the min-id survivor per cluster, drop the rest.

    Components run on the pair graph only (docs with no near-dup never
    enter the iteration), so the loop is tiny even at corpus scale."""
    from harvesttext_spark.operators.alias_discovery import connected_components

    comps = connected_components(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    )
    losers = (
        comps.groupBy("cluster_id")
        .agg(F.min("node").alias("keep_id"))
        .join(comps, "cluster_id")
        .filter(F.col("node") != F.col("keep_id"))
        .select(F.col("node").alias(id_col))
    )
    return docs.join(losers, id_col, "left_anti")


# --- exact n-gram Jaccard ----------------------------------------------------


def jaccard_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.8,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact shingle-set Jaccard with a document-frequency cap on candidate
    generation — the 100 TB guard this operator was missing:

      1. postings (id, s); per-doc set sizes.
      2. df per shingle (window count, one shuffle on s); shingles with
         df > ``max_shingle_df`` are dropped from CANDIDATE generation
         only — a boilerplate shingle shared by 10⁵ docs would emit 10¹⁰
         join rows by itself.
      3. candidate pairs = rare-posting self-join (every bucket ≤ cap ⇒
         ≤ cap² rows per shingle, bounded).
      4. EXACT |A∩B| recomputed over the FULL postings for candidate
         pairs only, so reported jaccard values are true values, hot
         shingles included.

    A qualifying pair is missed only when ALL of its shared shingles have
    df > cap (pure-boilerplate overlap — exactly the pairs a dedup
    pipeline wants judged by content, not template).

    On top of the cap, candidate generation applies the PREFIX FILTER from
    set-similarity joins: order each doc's shingles by global (df, s) and
    join only the first |A| - ceil(t·|A|) + 1 of them.  Lossless for
    J >= t (the rarest shared shingle provably sits inside both docs'
    prefixes), and LOSSLESS RELATIVE TO THE CAP too: the rarest shared
    shingle is the one least likely capped, so prefix+cap reports exactly
    the same pairs as cap-only while joining far fewer postings."""
    from pyspark.sql.window import Window

    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(token_shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    with_df = sh.withColumn("df", F.count("*").over(Window.partitionBy("s")))
    w_doc = Window.partitionBy("id").orderBy("df", "s")
    # epsilon inside ceil: float t*n can land epsilon ABOVE the exact
    # rational (0.2*10 = 2.0000000000000004); erring toward a LONGER
    # prefix keeps the filter lossless at exact-boundary pairs.  The
    # DuckDB oracle mirrors the identical expression.
    prefix = (
        with_df.withColumn("rn", F.row_number().over(w_doc))
        .withColumn("n", F.count("*").over(Window.partitionBy("id")))
        .filter(
            F.col("rn")
            <= F.col("n") - F.ceil(F.lit(min_jaccard) * F.col("n") - F.lit(1e-9)) + 1
        )
        .filter(F.col("df") <= max_shingle_df)
        .select("id", "s")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact intersection over full postings, restricted to candidate pairs:
    # explode id_a's shingles per pair, semi-match against id_b's postings.
    pa = sh.select(F.col("id").alias("id_a"), "s")
    pb = sh.select(F.col("id").alias("id_b"), "s")
    inter = (
        cand.join(pa, "id_a")
        .join(pb, ["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# --- SimHash ------------------------------------------------------------------


def simhash32_portable(text: Column) -> Column:
    """32-bit SimHash over whitespace tokens, engine-portable:
    token hash = first 8 hex digits of md5 (bit b = bit b of that 32-bit
    value, MSB first); each token contributes +1/-1 per bit; simhash bit is
    1 iff the sum is positive.  ONE md5 + one fold per token (array
    arithmetic) — the DuckDB oracle reproduces it relationally.
    Production path at scale: ``simhash64_native`` (xxhash64, one JVM op)."""
    toks = F.filter(F.split(text, "\\s+"), lambda t: t != "")
    # token -> array of 32 bits (hex digit d, bit k: (val >> (3-k)) & 1)
    tok_bits = lambda t: F.flatten(  # noqa: E731
        F.transform(
            F.filter(F.split(F.substring(F.md5(t), 1, 8), ""), lambda c: c != ""),
            lambda c: F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda k: (
                    F.floor(
                        (F.instr(F.lit(HEX_DIGITS), c) - 1)
                        / F.pow(F.lit(2.0), (3 - k).cast("double"))
                    ).cast("int")
                    % 2
                ),
            ),
        )
    )
    sums = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), 32),
        lambda acc, t: F.zip_with(
            acc, tok_bits(t), lambda a, bit: a + F.when(bit == 1, 1).otherwise(-1)
        ),
    )
    powers = F.array(*[F.lit(2 ** (31 - i)).cast("bigint") for i in range(32)])
    return F.aggregate(
        F.zip_with(sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def simhash64_native(text: Column, shingle_n: int = 2) -> Column:
    """Production SimHash: xxhash64 token-shingle hashes folded into 64 bits
    via JVM-side bit ops — whole-stage codegen, no Python.  (Not DuckDB-
    matchable: engine hash differs; oracle gets a rows-only check.)

    ONE aggregate pass: each shingle's xxhash64 is materialized once, then
    folded into a 64-length ±1 count array (zip_with), and the counts fold
    to bits at the end.  The previous shape — 64 independent F.aggregate
    expressions — re-evaluated the shingle array 64× (no CSE across
    Catalyst expression trees)."""
    hs = F.transform(token_shingles(text, shingle_n), lambda s: F.xxhash64(s))
    sums = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            # h is the lambda-bound element: xxhash64 evaluated ONCE per
            # shingle, 64 literal-shift bit tests over it
            F.array(
                *[
                    F.when(
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
                    ).otherwise(-1)
                    for b in range(64)
                ]
            ),
            lambda a, d: a + d,
        ),
    )
    # bit 63 is the sign bit of the signed bigint: contributes -(2^63)
    powers = F.array(
        *[F.lit(2**b if b < 63 else -(2**63)).cast("bigint") for b in range(64)]
    )
    return F.aggregate(
        F.zip_with(
            sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


# crossover between the one-pass lambda fold and the explode+codegen-agg
# shape, measured (BENCH.md round 4): fold wins below ~50k docs (explode
# pays a 32-column shuffle), explode wins 13x at 1.2M pages.
# r9 recalibration: at 50k docs the interpreted one-pass fold measured
# 2.7-12s ACROSS SESSIONS (heavy-tailed — interpreted HOF eval allocates
# per element and GC/session history swing it 4x; the driver's r8 samples
# show the same [9.3, 1.9, 2.2] spread) while the explode shape is a
# stable ~1.9-2.5s and rides the doc_id scan partitioning exchange-free.
# The fold only wins on genuinely tiny frames where exchange overhead
# dominates — keep it below ~20k rows (sf0.1's 5k-doc table stays fold,
# measured 0.58s there vs 0.6s explode).
SIMHASH32_FOLD_MAX_ROWS = 20_000


def _plan_size_bytes(df: DataFrame) -> int | None:
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _estimated_rows(df: DataFrame) -> int | None:
    """Free row-count estimate (no extra scan).  Prefer the plan's
    ``maxRows`` upper bound — exact for range/limit-rooted plans, where
    the byte estimate is badly misleading (a range node carries 8 B/row,
    so 1.2M synthesized pages looked like "9.6 MB").  Fall back to
    sizeInBytes / 120 (conservative compressed bytes per web-text row).
    Both estimators err TOWARD the explode shape, whose mis-pick costs
    ~0.8 s at small scale vs ~10x the other way at crawl scale."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
    except Exception:
        return None
    try:
        mr = plan.maxRows()
        if mr.isDefined():
            return int(mr.get())
    except Exception:
        pass
    try:
        return int(plan.stats().sizeInBytes()) // 120
    except Exception:
        return None


def simhash32_frame(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shape: str = "auto",
) -> DataFrame:
    """(id, sh) — hot-path shape of ``simhash32_portable``: explode the
    tokens and compute the 32 ±1 bit sums as codegen aggregates (same
    lesson as minhash_signature_frame: higher-order-function folds
    evaluate interpreted per element).  Value-identical — same md5-based
    token hash, same bit order, same sign rule — so the DuckDB oracle is
    untouched.  Docs with no tokens keep sh=0, NULL text keeps NULL.

    Measured at 1.2M pages, local[32]: 4.6s vs 59.5s for the lambda fold
    (13x).  The 64-bit ``simhash64_native`` deliberately KEEPS its
    one-pass lambda: its per-shingle work is 64 literal-shift WHENs
    (cheap ordinary expressions inside the fold) over ~13 distinct
    shingles, and an explode variant paid more in the 64-column shuffle
    than it saved (15.3s vs 13.2s measured) — frame-vs-fold is a
    measurement call, not a rule.

    ``shape``: "auto" (default) picks the lambda fold for inputs under
    SIMHASH32_FOLD_MAX_ROWS (free Catalyst estimate, see _estimated_rows)
    and the explode shape above it — both are value-identical, so the
    choice is pure physical planning; "fold"/"explode" force a shape
    (tests pin the equivalence; the pipeline can force "explode" when it
    knows the input is a freshly-deduped crawl)."""
    if shape == "auto":
        est = _estimated_rows(docs)
        shape = (
            "fold" if est is not None and est <= SIMHASH32_FOLD_MAX_ROWS else "explode"
        )
    if shape == "fold":
        return docs.select(
            F.col(id_col).alias("id"),
            simhash32_portable(F.col(text_col)).alias("sh"),
        )
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.filter(F.split(F.col(text_col), "\\s+"), lambda t: t != "")).alias("tok"),
    )
    v = _hex_to_long(F.substring(F.md5("tok"), 1, 8))
    aggs = [
        F.sum(
            F.when(F.shiftright(v, 31 - i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_s{i}")
        for i in range(32)
    ]
    folded = toks.groupBy("id").agg(*aggs)
    sh = None
    for i in range(32):
        term = F.when(F.col(f"_s{i}") > 0, F.lit(2 ** (31 - i)).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sh = term if sh is None else sh + term
    folded = folded.select("id", sh.alias("_sh"))
    return (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).isNull().alias("_n"))
        .join(folded, "id", "left")
        .select(
            "id",
            F.when(F.col("_n"), F.lit(None).cast("bigint"))
            .otherwise(F.coalesce("_sh", F.lit(0).cast("bigint")))
            .alias("sh"),
        )
    )


def simhash_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 2,
) -> DataFrame:
    """Near-dup candidates by 64-bit native SimHash, Manku-style blocking:
    split the 64 bits into ``max_hamming + 1`` blocks — by pigeonhole a
    pair within hamming distance h must agree exactly on ≥1 of h+1 blocks
    — bucket-join on (block_idx, block_value), then verify exact hamming.

    At the default h=3 the blocks are 4×16 bits ⇒ 65,536 distinct bucket
    values per block, so bucket size stays O(n/65k) at corpus scale.  The
    previous 32-bit/4×8-bit shape had only 256 values per block ⇒ ~n²/1024
    candidate pairs — the scale-killer this replaces.  Larger h shrinks
    block width (9 blocks × 7 bits at h=8): inherent to SimHash blocking,
    warn-documented rather than hidden."""
    nblocks = max_hamming + 1
    width = 64 // nblocks
    h = docs.select(
        F.col(id_col).alias("id"),
        simhash64_native(F.col(text_col), shingle_n).alias("sh"),
    )
    mask = F.lit((1 << width) - 1).cast("bigint")

    def block_of(c, i):
        # shiftrightunsigned: the sign bit must not smear into block values
        return F.shiftrightunsigned(c, width * i).bitwiseAND(mask)

    buckets = h.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), block_of(F.col("sh"), i).alias("v")
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("b"),
    ).select("id", "sh", F.col("b.i").alias("bi"), F.col("b.v").alias("bv"))
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
    return pairs.select("id_a", "id_b", ham).filter(F.col("hamming") <= max_hamming)


def simhash_dup_pairs_portable(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Oracle-portable SimHash near-dup candidates: same Manku pigeonhole
    blocking as ``simhash_dup_pairs`` but over the 32-bit md5-based
    ``simhash32_portable`` (4×8-bit blocks at h=3), so the ENTIRE pipeline
    — signature, blocking, bucket join, hamming verify — is reproducible
    in DuckDB and value-checked.  Production keeps the 64-bit xxhash64
    path (65,536 values/block); 8-bit blocks mean ~n²/1024 candidates at
    corpus scale, fine at driver/test scale, documented here."""
    nblocks = max_hamming + 1
    width = 32 // nblocks
    h = simhash32_frame(docs, text_col, id_col)
    mask = F.lit((1 << width) - 1).cast("bigint")
    buckets = h.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.shiftrightunsigned(F.col("sh"), width * i)
                        .bitwiseAND(mask)
                        .alias("v"),
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("b"),
    ).select("id", "sh", F.col("b.i").alias("bi"), F.col("b.v").alias("bv"))
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
    return pairs.select("id_a", "id_b", ham).filter(F.col("hamming") <= max_hamming)


# --- CCNet-style boilerplate line dedup -------------------------------------


def line_doc_freq(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(line_key, df) — how many distinct documents contain each normalized
    line.  The corpus-wide boilerplate census (CCNet dedups Common Crawl at
    paragraph granularity with exactly this table).  One explode + one
    groupBy on the line hash-key; uniform by construction."""
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    )
    # two explicit groupBys, NOT countDistinct: a corpus-wide boilerplate
    # line is the textbook hot key, and countDistinct(id) shuffles every
    # (hot_line, id) pair to ONE reducer.  Deduping on (line_key, id)
    # first shuffles on the uniform composite key; the second aggregation
    # then ships one map-side-combined count per partition.
    return (
        lines.select("id", F.lower(F.trim(F.col("line"))).alias("line_key"))
        .filter(F.col("line_key") != "")
        .groupBy("line_key", "id")
        .agg(F.lit(1).alias("_one"))
        .groupBy("line_key")
        .agg(F.count("*").alias("df"))
    )


def drop_boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 10,
) -> DataFrame:
    """(doc_id, text_clean): remove every line whose normalized form occurs
    in >= min_df distinct documents (headers, footers, cookie banners —
    the CCNet/C4 boilerplate pass), preserving the order of surviving
    lines.  Shape at 100 TB: the line census is a hot-key-safe two-stage
    groupBy; the drop is a shuffled left-anti join on the uniform
    line_key (the hot-line table can itself be huge — see inline
    comment); reassembly is one groupBy(doc).

    ``id_col`` MUST be unique per row: the reassembly groupBy merges
    lines sharing an id into one text (dedup urls first — see
    pipeline/stages.py apply_pre_passes, which guarantees this)."""
    hot = line_doc_freq(docs, text_col, id_col).filter(F.col("df") >= min_df)
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("line_key", F.lower(F.trim(F.col("line"))))
    # NO broadcast hint: at Common-Crawl scale the set of lines with
    # df >= min_df is NOT small (cookie banners alone are millions of
    # distinct normalized strings), and a forced broadcast OOMs exactly
    # when this operator matters.  The scale-safe shape is a shuffled
    # left-anti join on the uniform line_key; AQE still picks a
    # broadcast join at test scale when the hot table measures small.
    kept = lines.join(hot.select("line_key"), "line_key", "left_anti")
    rebuilt = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("line")))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_clean")
        )
    )
    # per-url contract: a doc whose EVERY line is boilerplate must stay in
    # the output (empty text), not silently vanish — downstream keep/drop
    # and byte-identity gates are per-url.  NULL text stays NULL (an
    # html-only page must not become the empty string — that would flip
    # its label from null_text and mask the html-decode fallback).
    return (
        docs.select(
            F.col(id_col).alias("id"), F.col(text_col).isNull().alias("_was_null")
        )
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("_was_null"), F.lit(None).cast("string"))
            .otherwise(F.coalesce("text_clean", F.lit("")))
            .alias("text_clean"),
        )
    )


def drop_duplicate_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "text_dedup",
) -> DataFrame:
    """Corpus-level keep-FIRST paragraph dedup (the CCNet/RefinedWeb rule
    at paragraph granularity — in WET text a paragraph is a line): every
    occurrence of a duplicated normalized paragraph EXCEPT the globally
    first (lexicographic (id, pos) struct-min, so string url ids work)
    is removed.  Complements ``drop_boilerplate_lines``: that one drops
    lines by document-frequency threshold everywhere; this one keeps one
    canonical copy of each repeated paragraph regardless of df.

    Normalization for the key: lower(trim(para)); paragraphs that
    normalize to '' are structural whitespace, never deduped.  Docs that
    lose nothing pass through BYTE-IDENTICAL (no reassembly); NULL text
    stays NULL; a doc whose every paragraph loses becomes ''.

    Scale shape: one explode; census = groupBy on the bounded md5 key
    (map-side partial agg absorbs hot boilerplate paragraphs); the
    dup-occurrence join shuffles on that same key (AQE skew-join); one
    aggregation turns the duplicate set into per-doc removal position
    lists, and the cut is a positional HOF filter over each affected
    doc's own split — no second explode, no reassembly groupBy, and the
    explode+census chain has exactly one consumer."""
    paras = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "para"),
    )
    cand = paras.filter(F.trim(F.col("para")) != "").select(
        "id",
        "pos",
        "para",
        F.md5(F.lower(F.trim(F.col("para")))).alias("pkey"),
        F.struct(F.col("id").alias("i"), F.col("pos").alias("p")).alias("ord"),
    )
    census = cand.groupBy("pkey").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("ord").alias("first_ord")
    )
    dups = (
        cand.join(census.filter(F.col("cnt") > 1), "pkey")
        .filter(F.col("ord") != F.col("first_ord"))
        .select("id", "pos")
    )
    # ONE aggregation turns the duplicate set into per-doc removal
    # position lists (one row per affected doc), and the cut is a
    # positional HOF filter over the doc's own split — the
    # cut_duplicate_spans pattern.  No second explode, no anti-join, no
    # reassembly groupBy, and dups has exactly ONE consumer so the
    # explode+census chain runs once (the earlier anti-join shape
    # re-ran it per consumer: measured +30s at 1.2M in the 8-stage
    # chain, and its extra persist pressed the 8g heap).
    per_doc = dups.groupBy("id").agg(F.collect_list("pos").alias("_rm"))
    out = docs.join(per_doc.withColumnRenamed("id", id_col), id_col, "left")
    paras_of = F.split(F.col(text_col), "\n")
    kept = F.filter(paras_of, lambda p, i: ~F.array_contains(F.col("_rm"), i))
    return out.withColumn(
        out_col,
        F.when(F.col("_rm").isNull(), F.col(text_col)).otherwise(
            F.array_join(kept, "\n")
        ),
    ).drop("_rm")


def drop_url_dups(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    canonicalize: bool = True,
) -> DataFrame:
    """URL-level dedup for a pages table: keep ONE row per canonical URL
    (utm/fragment/case variants collapse), surviving row = latest crawl,
    ties broken by lexicographically-last raw url, then by a content
    hash over every remaining column (two rows identical in url AND
    timestamp but different payloads still pick a fully deterministic
    survivor — repo rule: nothing order-dependent feeds output).  One
    shuffle on the canonical key; per-key groups are tiny (crawl
    variants of one page), so the window sort is cheap — the standard
    first pass before text-level dedup in a CC pipeline.

    ``canonicalize=False`` dedups on the EXACT url (no utm/fragment
    collapsing) — the url-uniqueness guarantee passes like
    drop_boilerplate_lines need without changing which pages exist.

    Shape: a single max_by aggregate (survivor = lexicographic max of
    (ts, url, payload_hash)) instead of a row_number window — same
    survivor row for row, but map-side partial aggregation carries ONE
    row per canonical key into the shuffle and skips the per-partition
    sort (measured 2x at 1.2M pages: 4.3s vs 8.7s, identical output)."""
    from harvesttext_spark.functions.urls import canonical_url

    key = canonical_url(F.col(url_col)) if canonicalize else F.col(url_col)
    keyed = pages.withColumn("_curl", key)
    payload_hash = F.xxhash64(*[F.col(c) for c in pages.columns])
    order = F.struct(F.col(ts_col), F.col(url_col), payload_hash)
    row = F.struct(*[F.col(c) for c in pages.columns])
    return (
        keyed.groupBy("_curl")
        .agg(F.max_by(row, order).alias("_r"))
        .select(*[F.col(f"_r.{c}").alias(c) for c in pages.columns])
    )


# --- cross-snapshot (incremental) dedup ----------------------------------

def snapshot_band_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, key) — the exploded MinHash band-key table to PERSIST
    alongside a snapshot as its dedup index: ~bands x (4 + 32) bytes per
    doc regardless of text size, the compact artifact Common-Crawl-style
    pipelines carry between dumps instead of re-reading last dump's
    text.  Same signature arithmetic as ``minhash_dup_pairs`` (so an
    index written by one run is comparable in any later run with the
    same parameters — parameters belong in the index path name).  Docs
    with no shingles (NULL/short text) contribute no rows: they can
    never cross-match, matching the in-run LSH semantics."""
    sig = minhash_signature_frame(docs, text_col, id_col, shingle_n, num_hashes)
    rows = num_hashes // bands
    return (
        sig.filter(F.col("sig")[0].isNotNull())
        .select(
            "id", F.explode(minhash_bands(F.col("sig"), bands, rows)).alias("bk")
        )
        .select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


def flag_dups_against(
    docs: DataFrame,
    prior_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, cross_dup boolean) — id collides with ANY prior-snapshot doc
    on at least one LSH band.  The incremental dedup primitive: dump N+1
    checks against dump N's persisted ``snapshot_band_index`` without
    touching dump N's text.

    Shape: ONE hash-partitioned left-semi join on (band, key) — semi
    joins short-circuit at the first match, so hot template bands on the
    prior side cannot go quadratic (no pair materialization at all, the
    failure mode ``max_band_df`` guards in the in-run pair join), then a
    distinct on id.  Exchange volume is bands x 36 B per doc on each
    side, constant in text size.  Unlike in-run dedup this is PER-ROW
    against a FIXED index, so the job stage composes with --resume
    (bucket-idempotent) — the one dedup flavor that can."""
    new_index = snapshot_band_index(
        docs, text_col, id_col, shingle_n, num_hashes, bands
    )
    hits = (
        new_index.join(prior_index.select("band", "key"), ["band", "key"], "semi")
        .select("id")
        .distinct()
        .withColumn("cross_dup", F.lit(True))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select("id", F.coalesce("cross_dup", F.lit(False)).alias("cross_dup"))
    )


def drop_dups_against(
    docs: DataFrame,
    prior_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """All docs whose text does NOT near-match the prior snapshot —
    ``flag_dups_against`` consumed as an anti-join (same plan shape;
    the flag variant exists for audit columns / drop_reason wiring)."""
    new_index = snapshot_band_index(
        docs, text_col, id_col, shingle_n, num_hashes, bands
    )
    hits = new_index.join(
        prior_index.select("band", "key"), ["band", "key"], "semi"
    ).select("id").distinct()
    return docs.join(
        hits, docs[id_col] == hits["id"], "left_anti"
    )


def band_index_bloom(
    index: DataFrame,
    n_shards: int = 16,
    fp_rate: float = 1e-4,
    capacity_per_shard: int | None = None,
) -> tuple[dict, dict[int, bytes]]:
    """-> (params, {shard: bloom bytes}) — the band index compressed to a
    broadcastable membership sketch (~2.4 bytes per band key at 1e-4 vs
    36 bytes per index row), for probes that can't run a distributed
    semi join: the STREAMING dedup-against path (stateless per-row
    membership test) and very wide fan-out batch probes.

    Built DISTRIBUTED: each shard's bit array is filled by one
    applyInPandas group (shard = md5 of the band:key string, mod
    n_shards — python-side md5 so build and probe agree byte-for-byte);
    the driver receives only the n_shards finished arrays, never the
    keys.  Deterministic (md5 double hashing, no rand).

    Semantics vs the exact index: NO false negatives (a true
    cross-snapshot duplicate always flags — every set bit survives), and
    a per-band false-positive rate of ~fp_rate, so a novel page is
    falsely flagged with probability <= bands * fp_rate (~4e-4 at
    defaults) — the streaming_url_dedup_bloom trade, documented there."""
    import hashlib

    import pandas as pd

    from harvesttext_spark.functions.bloom import BloomFilter, bloom_params

    if capacity_per_shard is None:
        n = index.count()
        capacity_per_shard = max(1024, -(-n // n_shards))
    m_bits, k = bloom_params(capacity_per_shard, fp_rate)

    def shard_of(s: str) -> int:
        return int.from_bytes(
            hashlib.md5(s.encode("utf-8")).digest()[:4], "big"
        ) % n_shards

    @F.pandas_udf("int")
    def shard_udf(s):
        return s.map(shard_of)

    def build(pdf):
        if not len(pdf):
            return pd.DataFrame({"shard": [], "bits": []})
        bloom = BloomFilter(m_bits, k)
        for s in pdf["bk"]:
            bloom.add(s)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bits": [bloom.to_bytes()]}
        )

    keyed = index.select(
        F.concat_ws(":", F.col("band").cast("string"), F.col("key")).alias("bk")
    ).withColumn("shard", shard_udf(F.col("bk")))
    rows = keyed.groupBy("shard").applyInPandas(
        build, "shard int, bits binary"
    ).collect()
    params = {
        "m_bits": m_bits,
        "k": k,
        "n_shards": n_shards,
        "fp_rate": fp_rate,
    }
    return params, {int(r["shard"]): bytes(r["bits"]) for r in rows}


def band_keys_py(
    text: str | None,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> list[str]:
    """Pure-python 'band:key' LSH keys for ONE document — bit-identical
    to the exploded batch index (snapshot_band_index; pinned by
    test_band_keys_py_matches_snapshot_index): same Java-\\s+ token
    split, distinct token shingles (empty text collapses to the ""
    shingle, exactly like token_shingles' otherwise-branch), md5 ->
    (h1, h2) Kirsch-Mitzenmacher pairs, k min-hashes mod 2^32, banded
    md5 over the comma-joined component strings.

    Exists because the Catalyst fold shape cannot feed a pandas UDF:
    composing the ~200-node HOF signature expression with a Python UDF
    trips Spark's interpreted-projection fallback ("Cannot evaluate
    expression: any_hit(...)" INTERNAL_ERROR, reproduced on 4.1.2), so
    the streaming probe computes keys Python-side in the same Arrow
    batch that tests the Bloom.  NULL text -> no keys (can never
    match)."""
    import hashlib
    import re

    if text is None:
        return []
    toks = [t for t in re.split("[ \t\n\x0b\f\r]+", text) if t != ""]
    n_sh = len(toks) - (shingle_n - 1)
    if n_sh >= 1:
        shingles = list(dict.fromkeys(
            " ".join(toks[i : i + shingle_n]) for i in range(n_sh)
        ))
    else:
        shingles = [" ".join(toks)]
    pairs = []
    for s in shingles:
        hx = hashlib.md5(s.encode("utf-8")).hexdigest()
        pairs.append((int(hx[:8], 16), int(hx[8:16], 16)))
    if not pairs:
        return []
    sig = [
        str(min((h1 + i * h2) % 4294967296 for h1, h2 in pairs))
        for i in range(num_hashes)
    ]
    rows = num_hashes // bands
    return [
        "{}:{}".format(
            b,
            hashlib.md5(",".join(sig[b * rows : (b + 1) * rows]).encode()).hexdigest(),
        )
        for b in range(bands)
    ]


def cross_dup_bloom_udf(
    params: dict,
    shards: dict[int, bytes],
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
):
    """pandas_udf(boolean) over the raw TEXT column — true iff ANY of the
    row's LSH band keys (band_keys_py, computed in the same Arrow batch)
    hits its shard's Bloom.  The shards dict rides the closure (Spark
    ships task binaries; a few MB per 1M indexed docs at default
    sizing)."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    from harvesttext_spark.functions.bloom import BloomFilter

    m_bits, k, n_shards = params["m_bits"], params["k"], params["n_shards"]
    blooms = {s: BloomFilter(m_bits, k, bits=b) for s, b in shards.items()}

    def hit(s: str) -> bool:
        sh = int.from_bytes(
            hashlib.md5(s.encode("utf-8")).digest()[:4], "big"
        ) % n_shards
        bf = blooms.get(sh)
        return bf is not None and s in bf

    def row_hit(text) -> bool:
        return any(
            hit(s) for s in band_keys_py(text, shingle_n, num_hashes, bands)
        )

    @pandas_udf("boolean")
    def any_hit(texts):
        return texts.map(row_hit)

    return any_hit
