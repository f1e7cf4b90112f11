"""Similarity / dedup primitives (north-star: MinHash+LSH, SimHash,
n-gram Jaccard, embedding cosine — BASELINE.json).

Everything is built on the portable hash from functions.text (md5-hex →
int64) so a SQL oracle can reproduce results bit-for-bit, and on pure
Column expressions so the JVM does the work.

Scale notes (the part that matters at 100 TB):
* MinHash signatures: one explode + one groupBy — the shuffle carries
  (doc_id, shingle-hash) pairs, not documents.
* LSH banding: candidate generation is a self-equi-join on (band,
  band_key) buckets — Catalyst plans a shuffled hash join keyed on the
  bucket, so comparisons are only within buckets, never all-pairs.
* Brute-force cosine top-k is the *oracle* path; the LSH/bucketed path
  is the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import HASH_MOD, hmod, tokens, word_shingles

# ---------------------------------------------------------------------------
# Vector math (arrays of float/double) — pure expressions
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + aggregate (sequential fold → the same
    summation order as a scalar loop, so oracles agree to the ulp)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _session_shuffle_parts(df: DataFrame) -> int | None:
    """``spark.sql.shuffle.partitions`` as an int, or None when the conf
    is non-numeric (e.g. a platform's "auto") — the parallelism pin then
    degrades to the unpinned plan instead of failing at plan-build time."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return None


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) multipliers for k hash permutations:
    h_i(x) = (a_i·x + b_i) mod HASH_MOD with small odd a_i so products
    stay far inside int64 for both engines."""
    return [(2 * i + 3, 7 * i + 1) for i in range(k)]


def shingle_table(
    docs: DataFrame, id_col: str, text_col: str, shingle_n: int, distinct: bool = True
) -> DataFrame:
    """(id, shingle_hash) rows — the exploded basis for MinHash and
    exact Jaccard. ``distinct=False`` skips the dedup shuffle for
    consumers whose aggregates are duplicate-insensitive (MIN)."""
    sh = word_shingles(tokens(F.col(text_col)), shingle_n)
    out = (
        docs.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .withColumn("sh", hmod(F.col("shingle")))
        .select(id_col, "sh")
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, k: int = 16, shingle_n: int = 3
) -> DataFrame:
    """One row per doc with columns mh0..mh{k-1} (int64).

    Single shuffle: explode shingles map-side, then one groupBy computes
    all k permutation minima as independent aggregates. No distinct
    pass — MIN is duplicate-insensitive, so repeated shingles cost
    nothing but a few map-side comparisons.
    """
    sh = shingle_table(docs, id_col, text_col, shingle_n, distinct=False)
    aggs = [
        F.min((F.lit(a) * F.col("sh") + F.lit(b)) % F.lit(HASH_MOD)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(k))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, k: int, bands: int
) -> DataFrame:
    """Band the k-column signature into ``bands`` groups of k/bands rows;
    docs sharing any band bucket become a candidate pair (id_a < id_b).

    The join is keyed on (band, band_key): an equi-join Catalyst can
    shuffle-partition — never a cartesian product.
    """
    if k % bands:
        raise ValueError(f"bands={bands} must divide k={k} (trailing signature components would be silently ignored)")
    rows = k // bands
    band_cols = []
    for bnd in range(bands):
        cols = [F.col(f"mh{bnd * rows + j}").cast("string") for j in range(rows)]
        band_cols.append(
            F.struct(F.lit(bnd).alias("band"), F.concat_ws(",", *cols).alias("band_key"))
        )
    buckets = signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "bk.band", "bk.band_key")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, on=["band", "band_key"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def lsh_similar_pairs(
    signatures: DataFrame, id_col: str, k: int, bands: int
) -> DataFrame:
    """Fused LSH candidates + similarity estimate: the signature array
    rides through the band bucket join, so the estimate is computed in
    the same stage as candidate generation — no join back to the
    signature table (two shuffles saved vs the compositional path).

    Output: (id_a, id_b, est_jaccard), distinct.
    """
    if k % bands:
        raise ValueError(f"bands={bands} must divide k={k} (trailing signature components would be silently ignored)")
    rows = k // bands
    sig_arr = F.array(*[F.col(f"mh{i}") for i in range(k)])
    band_cols = []
    for bnd in range(bands):
        cols = [F.col(f"mh{bnd * rows + j}").cast("string") for j in range(rows)]
        band_cols.append(
            F.struct(F.lit(bnd).alias("band"), F.concat_ws(",", *cols).alias("band_key"))
        )
    buckets = signatures.select(
        F.col(id_col), sig_arr.alias("sig"), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "sig", "bk.band", "bk.band_key")
    a, b = buckets.alias("a"), buckets.alias("b")
    matches = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return (
        a.join(b, on=["band", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (matches / F.lit(float(k))).alias("est_jaccard"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (candidate generation by shared shingle)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard over word-n-gram shingle *sets*, computed only for
    pairs sharing ≥1 shingle (equi-join on shingle hash — the candidate
    filter that keeps this off O(n²)).

    Output: (id_a, id_b, jaccard) with jaccard ≥ threshold.
    """
    # the shingle table feeds three plan branches (self-join a/b +
    # sizes) — materialize once (localCheckpoint, not cache: checkpoint
    # blocks are reclaimed by the ContextCleaner when the plan is
    # garbage-collected, cached tables pin executor memory until an
    # explicit unpersist that query-shaped code has no place to put)
    sh = shingle_table(docs, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    return _pairs_from_shingles(sh, id_col, threshold)


def _pairs_from_shingles(
    sh: DataFrame, id_col: str, threshold: float, pin_parts: int | None = None
) -> DataFrame:
    """Exact Jaccard pairs from a prepared (id, sh) table (callers
    checkpoint ``sh`` — it feeds three plan branches).

    ``pin_parts`` pins the self-join's shuffle to that partition count
    (a REPARTITION_BY_NUM exchange the join reuses — no extra shuffle).
    Why: the pair-count reduce stage is CPU-bound per row while its
    shuffle BYTES are small, so AQE's byte-based coalescing (1 MB
    minPartitionSize) serializes it onto a handful of cores on small
    inputs (measured r14: ngram_jaccard_top averaged ~7 of 32 cores;
    interleaved A/B with the pin 2.33 → 2.06 s mean, 5/5 pairwise
    wins). Pinning opts the join out of AQE skew-splitting, so callers
    may ONLY pin when per-key fan-out is provably bounded — the
    df-capped vacuous path (max_df ≤ df_cap proven by a scalar probe)
    qualifies; the uncapped dedup edge joins do NOT (hot shingles are
    exactly where AQE skew handling must stay available; an A/B there
    measured 3/5 marginal anyway). At scale the exchange is above the
    coalescing floor and the pin requests what the conf would give —
    a no-op."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    side = sh.repartition(pin_parts, "sh") if pin_parts else sh
    a = side.alias("a")
    b = side.alias("b")
    inter = (
        a.join(b, on="sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # per-doc size table: NOT a broadcast hint — it scales with the
    # corpus (unlike true dimensions); AQE broadcasts it when small
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# SimHash (32-bit, portable)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per doc from distinct-token portable hashes.

    Two-phase agg: explode tokens → per-doc bit votes (sum ±1 per bit)
    → reassemble integer. All integer math → oracle-portable. The token
    hash is h60 mod 2^32 — NOT hmod, whose modulus (1e9+7 < 2^30) would
    leave bits 30-31 constantly zero and quietly shrink the hash to 30
    informative bits.
    """
    from .text import h60

    tok = (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .distinct()
        .withColumn("th", h60(F.col("tok")) % F.lit(4294967296))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("th"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy(id_col).agg(*votes)
    acc = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast(
            "long"
        )
    return per_doc.select(F.col(id_col), acc.alias("simhash"))


def df_capped_jaccard_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    shingle_n: int = 3,
    df_cap: int = 64,
    materialize: bool = True,
) -> DataFrame:
    """Exact top-k Jaccard pairs with DOCUMENT-FREQUENCY-CAPPED candidate
    generation — the scale-safe registration of the n-gram near-dup query.

    The plain co-occurrence self-join is quadratic in shingle document
    frequency: one boilerplate shingle shared by 10⁵ docs creates 10¹⁰
    candidate rows. Here the self-join runs only on shingle occurrences
    with df ≤ df_cap (hot shingles are EXCLUDED from candidate
    generation), so per-shingle join fan-out is bounded by df_cap².
    Jaccard stays EXACT for every candidate: the rare-side intersection
    count comes from the capped join, and the hot-side remainder from
    ``array_intersect`` over each doc's (small) hot-shingle array — so
    inter = inter_rare + inter_hot is the true intersection.

    Completeness is CERTIFIED at runtime, not assumed: a pair that never
    becomes a candidate shares only hot shingles, so its jaccard is at
    most min(hot_a, hot_b) / max(sz_a, sz_b) ≤ max_r where
    max_r = max over docs of hot/sz. If the k-th capped result beats
    max_r (or no hot shingles exist), the capped top-k IS the global
    top-k; otherwise we fall back to the unfiltered exact join — the
    same adaptive re-plan philosophy as AQE, decided from scalar
    aggregates, never a big collect.

    The branch itself is adaptive: a single ``max(df)`` scalar first —
    when no shingle exceeds the cap (clean corpora, small SFs) the
    candidate join is ALREADY df-bounded vacuously and the plain plan
    runs with zero extra joins; the hot-array machinery is built only
    when hot shingles exist.
    """
    sh = shingle_table(docs, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    df_tab = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))

    def _plain_topk(pin_parts: int | None = None) -> DataFrame:
        return (
            _pairs_from_shingles(sh, id_col, 0.0, pin_parts=pin_parts)
            .orderBy(F.col("jaccard").desc(), F.col("id_a").asc(), F.col("id_b").asc())
            .limit(k)
        )

    max_df = df_tab.agg(F.max("_df")).first()[0] or 0
    if max_df <= df_cap:
        # certificate holds with bound 0: every shingle's fan-out is
        # within the cap, candidates are complete, plain == capped —
        # and the bounded fan-out makes the parallelism pin skew-safe
        # (see _pairs_from_shingles)
        return _plain_topk(pin_parts=_session_shuffle_parts(sh))

    ann = sh.join(df_tab, "sh").localCheckpoint(eager=True)
    per_doc = ann.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("sz"),
        F.sort_array(
            F.collect_list(F.when(F.col("_df") > df_cap, F.col("sh")))
        ).alias("hot"),
    )
    rare = ann.filter(F.col("_df") <= df_cap).select(id_col, "sh")
    a, b = rare.alias("a"), rare.alias("b")
    inter_rare = (
        a.join(b, on="sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("_ir"))
    )
    pd_a = per_doc.select(
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), F.col("hot").alias("hot_a")
    )
    pd_b = per_doc.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), F.col("hot").alias("hot_b")
    )
    inter = (F.col("_ir") + F.size(F.array_intersect("hot_a", "hot_b"))).alias("_i")
    jac = (
        inter_rare.join(pd_a, "id_a")
        .join(pd_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.col("sz_a") + F.col("sz_b") - inter)
            ).alias("jaccard"),
        )
    )
    topk = jac.orderBy(
        F.col("jaccard").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(k)
    # k rows, materialized once: the certificate below is an action, and
    # without this the caller's own collect would re-run the whole
    # candidate pipeline a second time (materialize=False keeps the
    # lazy plan for tests that assert its shape)
    if materialize:
        topk = topk.localCheckpoint(eager=True)

    # completeness certificate: two scalars, not data
    max_r = per_doc.agg(
        F.max(F.size("hot") / F.col("sz")).alias("r")
    ).first()["r"] or 0.0
    got = topk.select(
        F.count(F.lit(1)).alias("n"), F.min("jaccard").alias("kth")
    ).first()
    if got["n"] < k or (got["kth"] or 0.0) <= max_r:
        # hot-only pairs could outrank OR TIE the capped k-th (ties
        # break on ids, which a never-generated candidate can win) —
        # recompute exactly
        return _plain_topk()
    return topk


def prefix_filtered_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Threshold Jaccard join with PREFIX FILTERING (the PPJoin family,
    Xiao et al.; same candidate-pruning idea as Spark ML's MinHashLSH
    approxSimilarityJoin but exact): two sets with jaccard ≥ t must
    share a shingle within the first ⌊(1-t)·|A|⌋+1 elements of any
    agreed global ordering of each set. So the self-join runs on the
    PREFIX table (a (1-t) fraction of the shingle table), and only the
    surviving candidate pairs pay the full intersection count. Lossless
    for a fixed threshold — same output as the unfiltered join, which
    is what the oracle verifies.

    At scale this is the difference between joining every co-occurring
    pair (hot shingles explode quadratically) and joining only pairs
    that co-occur in their rare-end prefixes. Ordering here is by hash
    value (deterministic); ordering by ascending document frequency
    prunes harder but costs an extra global aggregate.

    MEASURED crossover (sf0.1, 5k docs, local[32]): the plain join wins
    (1.2s vs 7.6s steady-state) — the per-doc window ranking costs more
    than the self-join it prunes when the corpus is small and the
    candidate blow-up hasn't kicked in. That is why ngram_jaccard_pairs
    stays the default and this operator is the explicit opt-in for
    corpora where co-occurrence is quadratic (real web text with Zipfian
    shingle frequencies).
    """
    sh = shingle_table(docs, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy(id_col).orderBy(F.col("sh").asc())
    # prefix length = sz - ceil(t·sz) + 1, in EXACT integer arithmetic:
    # a float product (e.g. 0.3*10 → 3.0000000000000004, ceil 4) can
    # overshoot the ceiling and shorten the prefix by one — silently
    # dropping qualifying pairs. Millirate rationals make it exact.
    t_milli = int(round(threshold * 1000))
    prefix_len = (
        F.col("sz")
        - F.expr(f"CAST((({t_milli} * sz) + 999) DIV 1000 AS BIGINT)")
        + F.lit(1)
    )
    prefix = (
        sh.withColumn("_pos", F.row_number().over(w))
        .join(sizes, id_col)
        .filter(F.col("_pos") <= prefix_len)
        .select(id_col, "sh")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, on="sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # verify candidates only: two id-keyed joins against the full
    # shingle table → exact intersection size per candidate pair
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("_sha"))
    sh_b = sh.select(F.col(id_col).alias("_idb"), F.col("sh").alias("_shb"))
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, (F.col("id_b") == F.col("_idb")) & (F.col("_sha") == F.col("_shb")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _containment_emit(j: DataFrame, threshold: float) -> DataFrame:
    """Shared tail of both containment plans: given candidate rows
    (id_a, id_b, inter, sz_a, sz_b), emit one DIRECTED row per passing
    direction. ONE pass: both directions explode from the same candidate
    row — a union of two filtered selects would recompute the whole
    candidate pipeline once per direction (measured 2×)."""
    c_ab = F.round(F.col("inter").cast("double") / F.col("sz_a"), 6)
    c_ba = F.round(F.col("inter").cast("double") / F.col("sz_b"), 6)
    both = F.array(
        F.struct(
            F.col("id_a").alias("id_sub"),
            F.col("id_b").alias("id_super"),
            c_ab.alias("containment"),
        ),
        F.struct(
            F.col("id_b").alias("id_sub"),
            F.col("id_a").alias("id_super"),
            c_ba.alias("containment"),
        ),
    )
    return (
        j.select(
            F.explode(
                F.filter(both, lambda s: s["containment"] >= F.lit(threshold))
            ).alias("r")
        )
        .select("r.id_sub", "r.id_super", "r.containment")
    )


def _containment_plain(
    sh: DataFrame, id_col: str, threshold: float, pin_parts: int | None = None
) -> DataFrame:
    """Unfiltered co-occurrence self-join → exact containment. Correct at
    any df distribution but quadratic in shingle document frequency —
    the fallback / vacuously-capped path, never the default at scale.
    ``pin_parts``: same CPU-parallelism pin (and same only-when-
    df-bounded caller contract) as _pairs_from_shingles."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    side = sh.repartition(pin_parts, "sh") if pin_parts else sh
    a, b = side.alias("a"), side.alias("b")
    inter = (
        a.join(b, on="sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return _containment_emit(inter.join(sz_a, "id_a").join(sz_b, "id_b"), threshold)


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    df_cap: int = 64,
) -> DataFrame:
    """Exact n-gram CONTAINMENT — the asymmetric sibling of Jaccard:
    C(A→B) = |A∩B| / |A|, near 1.0 when doc A is (almost) a subset of
    doc B (quotes, excerpts, boilerplate-wrapped copies — pairs a
    symmetric Jaccard threshold misses because the size difference
    dilutes the union). Output one DIRECTED row (id_sub, id_super,
    containment) per passing direction.

    Candidate generation is DOCUMENT-FREQUENCY-CAPPED, the same
    machinery as ``df_capped_jaccard_topk``: the self-join runs only on
    shingle occurrences with df ≤ df_cap, so per-shingle fan-out is
    bounded by df_cap² — one boilerplate shingle shared by 10⁵ docs can
    no longer emit C(10⁵,2) candidate rows. Containment stays EXACT for
    every candidate: inter = inter_rare (capped join) + |hot_a ∩ hot_b|
    (``array_intersect`` over each doc's small hot-shingle array).

    Completeness is CERTIFIED via the asymmetric bound: a pair that
    never becomes a candidate shares only hot shingles, so its forward
    containment C(A→B) = inter/sz_a ≤ hot_a/sz_a ≤ max_r where
    max_r = max over docs of hot/sz. If max_r < threshold (minus the
    6-decimal rounding margin), no missed pair can pass in EITHER
    direction (each direction is bounded by its own sub-side ratio) and
    the capped result is the exact answer. Otherwise fall back to the
    unfiltered join — decided from two scalar aggregates, never a big
    collect; same adaptive shape as AQE.

    The branch is adaptive like the Jaccard sibling: one ``max(df)``
    scalar first — when no shingle exceeds the cap the plain join is
    ALREADY df-bounded vacuously and runs with zero extra joins.

    MEASURED (4,100 docs all sharing one boilerplate shingle, local[32]):
    the uncapped join must aggregate C(4100,2) ≈ 8.4M candidate rows
    from that one shingle — it OOM-crashes a default-heap JVM outright,
    and with 24 GB it takes 1.8× the capped plan's 4.1 s. The gap is
    quadratic in the hot shingle's df; at web-corpus df the uncapped
    form is not slow, it is unrunnable.
    """
    sh = shingle_table(docs, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    df_tab = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    max_df = df_tab.agg(F.max("_df")).first()[0] or 0
    if max_df <= df_cap:
        # vacuous cap: every shingle's fan-out is within df_cap already
        # (bounded fan-out → the parallelism pin is skew-safe; measured
        # r14 interleaved: containment_pairs 2.76 → 2.51 s mean, 4/5)
        return _containment_plain(
            sh, id_col, threshold, pin_parts=_session_shuffle_parts(sh)
        )

    ann = sh.join(df_tab, "sh").localCheckpoint(eager=True)
    per_doc = ann.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("sz"),
        F.sort_array(
            F.collect_list(F.when(F.col("_df") > df_cap, F.col("sh")))
        ).alias("hot"),
    )
    # asymmetric completeness certificate: one scalar. Margin 1e-6
    # covers round(·, 6) lifting a just-below-threshold ratio over it.
    max_r = per_doc.agg(F.max(F.size("hot") / F.col("sz")).alias("r")).first()[
        "r"
    ] or 0.0
    if max_r >= threshold - 1e-6:
        # some doc is mostly hot shingles → a hot-only pair could pass;
        # exactness requires the unfiltered join
        return _containment_plain(sh, id_col, threshold)

    rare = ann.filter(F.col("_df") <= df_cap).select(id_col, "sh")
    a, b = rare.alias("a"), rare.alias("b")
    inter_rare = (
        a.join(b, on="sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("_ir"))
    )
    pd_a = per_doc.select(
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), F.col("hot").alias("hot_a")
    )
    pd_b = per_doc.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), F.col("hot").alias("hot_b")
    )
    j = (
        inter_rare.join(pd_a, "id_a")
        .join(pd_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("_ir") + F.size(F.array_intersect("hot_a", "hot_b"))).alias(
                "inter"
            ),
            "sz_a",
            "sz_b",
        )
    )
    return _containment_emit(j, threshold)
