"""Deduplication operators for large-scale training-data pipelines.

Four families, all expressed with built-in Spark functions (JVM-side,
codegen-friendly, no Python in the hot path) so Catalyst can push, prune and
partially aggregate them at 100 TB:

* **exact**: md5 fingerprint → groupBy. One shuffle on a 16-byte key.
* **MinHash**: word-shingles → one md5 base hash per shingle → k affine
  rehashes (min each) → band buckets → bucket join for candidate pairs.
  The classic shingle→minhash→band→bucket LSH cascade; every stage is an
  array expression, the only shuffle is the final bucket groupBy.
* **n-gram Jaccard**: exact verification of MinHash-LSH candidate pairs via
  distinct-shingle array intersection (pairs ⋈ docs, linear in corpus size).
* **SimHash**: 16-bit sign-vote fingerprint over word hashes (Hamming-style
  near-dup families).

Hashes are md5-derived (not Spark's xxhash64) so every result is
reproducible in any engine — the DuckDB oracles in ``__spark_entry__.py``
recompute them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SHINGLE = 3
DEFAULT_MINHASHES = 8
DEFAULT_SIMHASH_BITS = 16
# Boilerplate-flood guard, ON by default: an LSH bucket holding k docs
# contributes k(k-1)/2 candidate pairs, and real web corpora put millions of
# byte-identical boilerplate pages into ONE bucket. Buckets above the cap skip
# the pair self-join and contribute hub–spoke pairs instead (min-id member to
# each other member: k−1 rows, connectivity kept; see ``_pairs_from_buckets``).
# 1000 caps any single bucket's self-join at ≤499.5k pairs (bounded task
# memory) while being far above any honest near-dup cluster size; pass
# ``bucket_size_cap=None`` to disable the cap.
DEFAULT_BUCKET_CAP = 1000

# MinHash affine-rehash family: one md5-derived base hash per shingle, then
# h_i(s) = (a_i·h(s) + b_i) mod (2^31−1). One md5 per shingle instead of
# num_hashes — the md5 is the dominant cost at corpus scale. Multiplier /
# offset formulas are mirrored in oracle_queries.py; all intermediates fit
# in 2^36 so the arithmetic is overflow-safe under ANSI BIGINT in every
# engine.
MERSENNE31 = 2_147_483_647


def rehash_params(i: int) -> tuple[int, int]:
    return 2 * i + 3, 7919 * i + 12345


def _words(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def normalized_text(text: Column) -> Column:
    """Whitespace-collapsed lowercase normalization for fingerprinting."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def exact_fingerprint(text: Column) -> Column:
    return F.md5(normalized_text(text))


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents."""
    return (
        df.select(F.col(id_col), exact_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles_from_words(words: Column, k: int = DEFAULT_SHINGLE) -> Column:
    """k-word shingles from a **bound words-array column**.

    Pass an attribute produced by a prior projection (``df.select(...
    _words(...).alias("w"))``), NOT an inline split expression: Catalyst
    does not hoist loop-invariant subexpressions out of higher-order-
    function lambdas, so an inlined split is re-evaluated once per
    sequence element — O(words²) per document. On ~1k-word web pages that
    was measured at ~20× wall (72s → 3s per 10k docs) before this split
    was forced into its own projection. A bound column is safe:
    CollapseProject refuses to inline a non-cheap expression referenced
    more than once, and ``words`` is referenced four times here."""
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))


def _hash60(col: Column) -> Column:
    """First 15 hex chars of md5 as a bigint (portable across engines)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def base_shingle_hashes(sh: Column) -> Column:
    """One 60-bit md5 hash per shingle, reduced mod 2^31−1 (the rehash
    domain). Duplicate shingles cannot change a minimum, so distinct and
    non-distinct shingle arrays yield identical signatures downstream."""
    return F.transform(sh, lambda s: _hash60(s) % MERSENNE31)


def minhash_array(hs: Column, num_hashes: int = DEFAULT_MINHASHES) -> Column:
    """All k min-hashes in ONE pass over the base-hash array: a k-slot
    min accumulator (``zip_with`` against a literal (a_i, b_i) param
    array) instead of k separate ``array_min(transform(...))``
    traversals — ~2.4× on the signature scan at corpus scale,
    bit-identical values. Empty hash arrays yield NULL slots (``nullif``
    on the untouched sentinel), matching ``array_min``'s empty-array
    semantics. The returned array is ONE expression — stage it as a
    bound column before slicing k times, or CollapseProject will inline
    the whole aggregate once per slot."""
    params = F.array(
        *[
            F.struct(
                F.lit(rehash_params(i)[0]).alias("a"),
                F.lit(rehash_params(i)[1]).alias("b"),
            )
            for i in range(num_hashes)
        ]
    )
    init = F.array(*[F.lit(MERSENNE31).cast("bigint") for _ in range(num_hashes)])
    mins = F.aggregate(
        hs,
        init,
        lambda acc, h: F.zip_with(
            acc, params, lambda v, p: F.least(v, (p["a"] * h + p["b"]) % MERSENNE31)
        ),
    )
    # (a·h + b) % p < p always, so the sentinel survives iff no element.
    return F.transform(mins, lambda v: F.nullif(v, F.lit(MERSENNE31).cast("bigint")))


def minhash_signature(text: Column, num_hashes: int = DEFAULT_MINHASHES, k: int = DEFAULT_SHINGLE) -> list[Column]:
    """Per-slot reference form of :func:`minhash_signatures`: one
    ``array_min`` traversal per slot, as the SQL oracles render it, over
    an inline words split. Slow (the split is re-evaluated per shingle,
    see :func:`shingles_from_words`); tests pin the one-pass operator
    path to it."""
    hs = base_shingle_hashes(shingles_from_words(_words(F.lower(text)), k))

    def _slot(i: int) -> Column:
        a, b = rehash_params(i)
        return F.array_min(F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE31))

    return [_slot(i).alias(f"minhash_{i}") for i in range(num_hashes)]


def _features(df: DataFrame, text_col: str, id_col: str, k: int, num_hashes: int) -> DataFrame:
    """(id, sh, mh): the k-word shingles and their one-pass MinHash array,
    the one featurization of the MinHash family. Staged projections so the
    words split is a bound column when the shingle lambda iterates over it
    (see :func:`shingles_from_words`) and ``mh`` is one expression that
    later slices reference, not re-derive. ``mh`` runs over the raw
    shingles: a min over a multiset equals the min over its set."""
    worded = df.select(F.col(id_col), _words(F.lower(F.col(text_col))).alias("w"))
    shingled = worded.select(id_col, shingles_from_words(F.col("w"), k).alias("sh"))
    return shingled.select(
        id_col, "sh", minhash_array(base_shingle_hashes(F.col("sh")), num_hashes).alias("mh")
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       num_hashes: int = DEFAULT_MINHASHES) -> DataFrame:
    """Per-doc MinHash signature, one ``minhash_{i}`` column per slot."""
    feat = _features(df, text_col, id_col, DEFAULT_SHINGLE, num_hashes)
    return feat.select(
        id_col, *[F.col("mh")[i].alias(f"minhash_{i}") for i in range(num_hashes)]
    )


def _explode_bands(feat: DataFrame, id_col: str, num_hashes: int, band_size: int) -> DataFrame:
    """(id, band, bucket): each band of ``mh`` hashed to a bucket id."""
    bands = []
    for b in range(num_hashes // band_size):
        cols = [F.col("mh")[b * band_size + j] for j in range(band_size)]
        bucket = F.md5(F.concat_ws(",", *[c.cast("string") for c in cols]))
        bands.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    return feat.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_MINHASHES,
    band_size: int = 2,
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket id; documents
    sharing any (band, bucket) are near-dup candidates."""
    feat = _features(df, text_col, id_col, DEFAULT_SHINGLE, num_hashes)
    return _explode_bands(feat, id_col, num_hashes, band_size)


def _pairs_from_buckets(
    buckets: DataFrame, id_col: str, bucket_size_cap: int | None = None
) -> DataFrame:
    """Self-join each (band, bucket) group into candidate pairs (a < b).

    ``bucket_size_cap`` guards the 100 TB pathology: a bucket holding k
    documents contributes k² join rows, and boilerplate floods (millions
    of byte-identical pages) put millions of docs in ONE bucket. Buckets
    above the cap skip the quadratic self-join and emit hub–spoke pairs
    only: the bucket's min-id member paired with each other member, k−1
    rows instead of k²/2. Every star pair genuinely shares a bucket (a
    strict subset of the uncapped pair set — never a false candidate the
    uncapped oracle lacks), and within-bucket connectivity is preserved
    EXACTLY, so connected-components / curation clusters match the
    uncapped semantics whenever downstream verification accepts the
    hub–spoke edges (always, for byte-identical floods; for distinct
    near-dup floods the hub is a verified witness for each spoke).
    ``None`` disables the cap."""
    star = None
    if bucket_size_cap is not None:
        sizes = buckets.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_bucket_n"),
            F.min(id_col).alias("_hub"),
        )
        tagged = buckets.join(sizes, ["band", "bucket"])
        # Hub = min id ⇒ hub < spoke, matching the (a < b) convention.
        star = (
            tagged.filter(F.col("_bucket_n") > bucket_size_cap)
            .filter(F.col(id_col) != F.col("_hub"))
            .select(F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        buckets = tagged.filter(F.col("_bucket_n") <= bucket_size_cap).drop(
            "_bucket_n", "_hub"
        )
    left = buckets.alias("l")
    right = buckets.alias("r")
    pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_MINHASHES,
    band_size: int = 2,
    materialize: bool = False,
    bucket_size_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one LSH bucket.

    With ``materialize=True`` the (id, band, bucket) frame — tiny: one
    16-byte hash per band per doc — is ``localCheckpoint``-ed before the
    self-join, so the expensive shingle+MinHash scan runs ONCE instead of
    once per join side. Lazy by default for composability.
    ``bucket_size_cap`` (default ``DEFAULT_BUCKET_CAP``) bounds the
    per-bucket pair blow-up at corpus scale: over-cap buckets degrade to
    linear hub–spoke pairs (see ``_pairs_from_buckets``); ``None``
    disables the cap."""
    buckets = minhash_band_buckets(df, text_col, id_col, num_hashes, band_size)
    if materialize:
        buckets = buckets.localCheckpoint()
    return _pairs_from_buckets(buckets, id_col, bucket_size_cap)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_SHINGLE,
    threshold: float = 0.8,
    num_hashes: int = DEFAULT_MINHASHES,
    band_size: int = 2,
    bucket_size_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Exact n-gram Jaccard verification over MinHash-LSH candidate pairs.

    The classic two-stage cascade: the candidates are exactly
    :func:`minhash_candidate_pairs` on the same corpus (same banding, same
    ``bucket_size_cap`` hub–spoke rule), then each candidate's exact
    Jaccard is computed by joining the two documents' distinct-shingle
    arrays and intersecting them JVM-side (``array_intersect``) — no
    shingle self-join. One feature frame (distinct shingles next to the
    MinHash array) is ``localCheckpoint``-ed, so its four uses (two
    bucket-join sides, two verify-join sides) read materialized
    partitions instead of re-running the shingle scan.

    Scale shape: the candidate set is tiny relative to the corpus (only
    near-duplicates collide in a band bucket), so the verification cost is
    two |pairs|⋈|docs| equi-joins on the id key — linear in corpus size,
    where a shingle equi-join is quadratic in the document frequency of
    the hottest shingle (a boilerplate shingle shared by 10^6 docs
    contributes 10^12 join rows).

    Recall: a pair at Jaccard J survives banding with probability
    1-(1-J^band_size)^(num_hashes/band_size); at the default (4 bands × 2
    hashes) and threshold 0.8 that is ≥ 0.983, and exact duplicates (J=1)
    are always candidates. Pairs the LSH misses are not verified — the
    accepted trade of the LSH-verify literature (Leskovec et al., MMDS
    ch.3).
    """
    feat = (
        _features(df, text_col, id_col, k, num_hashes)
        .select(id_col, F.array_distinct("sh").alias("dsh"), "mh")
        .localCheckpoint()
    )
    buckets = _explode_bands(feat, id_col, num_hashes, band_size)
    candidates = _pairs_from_buckets(buckets, id_col, bucket_size_cap)
    sa = feat.select(F.col(id_col).alias("id_a"), F.col("dsh").alias("dsh_a"))
    sb = feat.select(F.col(id_col).alias("id_b"), F.col("dsh").alias("dsh_b"))
    scored = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("dsh_a", "dsh_b")).alias("inter"),
            F.size("dsh_a").alias("n_a"),
            F.size("dsh_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ).cast("double"),
        )
    )
    return scored.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def simhash_from_hashes(hashes: Column, bits: int = DEFAULT_SIMHASH_BITS) -> Column:
    """Sign-vote SimHash over a word-hash array column: bit b set iff
    Σ±1 votes > 0.

    Single-pass formulation: ONE ``aggregate`` over the array with a
    ``bits``-slot vote accumulator (``zip_with`` against a literal mask
    array), then one fold of the vote vector into the fingerprint. The
    previous shape ran ``bits`` separate aggregates — ``bits`` full
    traversals of the word array per document, ~2-3× the wall at 100 TB
    corpus shapes (measured 4.5→1.3 s at 16 bits on the sf0.1 dedup
    corpus; bit-identical outputs). ``hashes`` is referenced once, so
    this form is safe to inline over a raw transform as well.

    ``bits`` is capped at 63: the per-bit masks are BIGINT literals, so
    ``1 << 63`` would overflow the signed-64 literal range and fail deep
    inside plan construction — reject it with a clear error instead."""
    if not 1 <= bits <= 63:
        raise ValueError(
            f"simhash bits must be in [1, 63] (signed-64 fingerprint), got {bits}"
        )
    masks = F.array(*[F.lit(1 << b).cast("bigint") for b in range(bits)])
    zero = F.array(*[F.lit(0).cast("bigint") for _ in range(bits)])
    votes = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )


def simhash_fingerprint(text: Column, bits: int = DEFAULT_SIMHASH_BITS) -> Column:
    """Single-expression SimHash (composability form; the operator path
    ``simhash_fingerprints`` stages the hash array in its own projection
    to avoid the bits-fold re-evaluating the md5 transform)."""
    return simhash_from_hashes(F.transform(_words(F.lower(text)), _hash60), bits)


def simhash_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                         bits: int = DEFAULT_SIMHASH_BITS) -> DataFrame:
    hashed = df.select(
        F.col(id_col),
        F.transform(_words(F.lower(F.col(text_col))), _hash60).alias("hh"),
    )
    return hashed.select(
        F.col(id_col), simhash_from_hashes(F.col("hh"), bits).alias("simhash")
    )


def _simhash_buckets(fp: DataFrame, id_col: str, bits: int, bands: int) -> DataFrame:
    """(id, band, bucket): the ``bits``-bit fingerprint split into ``bands``
    equal bit-slices, one row per slice."""
    if bits % bands:
        raise ValueError(f"bits={bits} must divide evenly into bands={bands}")
    width = bits // bands
    mask = (1 << width) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("bucket"),
        )
        for b in range(bands)
    ]
    return fp.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    bucket_size_cap: int | None = DEFAULT_BUCKET_CAP,
    materialize: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking (the Manku/Google simhash-dedup layout): split the
    ``bits``-bit fingerprint into ``bands`` equal bit-slices; any pair
    within Hamming distance ``bands - 1`` differs in at most ``bands - 1``
    slices, so at least one slice matches exactly — candidates are pairs
    sharing a slice value (equi-join, one shuffle), then the exact
    ``bit_count(xor)`` verifies. Complete recall requires
    ``max_hamming <= bands - 1`` (asserted). ``bucket_size_cap`` guards
    slice-value floods the same way the MinHash path does.

    Defaults: 32-bit fingerprints / 4 bands of 8 — at 8-bit slices a
    random pair matches a band with probability ~4/256, keeping the
    candidate set linear-ish at corpus scale, while random pairs pass the
    Hamming-3 verify with probability ~1.3e-6.

    With ``materialize=True`` the fingerprint frame is
    ``localCheckpoint``-ed so the md5-per-word SimHash scan runs ONCE
    instead of once per use (band explode + two verify join sides). Lazy
    by default for composability — same contract as
    :func:`minhash_candidate_pairs`.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming (got {bands}): "
            "pigeonhole blocking only guarantees recall up to bands-1 bit flips"
        )
    fp = simhash_fingerprints(df, text_col, id_col, bits)
    if materialize:
        fp = fp.localCheckpoint()
    buckets = _simhash_buckets(fp, id_col, bits, bands)
    cand = _pairs_from_buckets(buckets, id_col, bucket_size_cap)
    fa = fp.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = True,
    planes: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold).

    Scale path (default): random-hyperplane LSH signatures block the
    self-join — only rows sharing a bucket are compared, O(rows²/buckets)
    instead of O(rows²). Exact cosine re-ranks inside the bucket. With
    ``use_lsh=False`` the join is the exact O(n²) baseline (the oracle
    shape). Near-identical vectors agree on every hyperplane sign, so LSH
    recall on true near-duplicates is ~1 by construction.
    """
    from .similarity import exact_cosine, lsh_signature

    vec = F.col(vec_col).cast("array<double>")
    if use_lsh:
        with_sig = df.select(
            F.col(id_col), vec.alias("v"), lsh_signature(vec, planes).alias("bucket")
        )
        join_cond = (F.col("a.bucket") == F.col("b.bucket")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
    else:
        with_sig = df.select(F.col(id_col), vec.alias("v"))
        join_cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    pairs = with_sig.alias("a").join(with_sig.alias("b"), join_cond)
    scored = pairs.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        exact_cosine(F.col("a.v"), F.col("b.v")).alias("cosine_sim"),
    )
    return scored.filter(F.col("cosine_sim") >= threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    driver_edge_threshold: int = 1_000_000,
) -> DataFrame:
    """Resolve candidate pairs into duplicate clusters: per node, the
    minimum id reachable through the pair graph (= canonical doc id).

    The step after MinHash-LSH at corpus scale: candidate pairs form a
    graph whose connected components are the duplicate clusters; keeping
    ``component`` per cluster deduplicates transitively (A~B, B~C ⇒ one
    survivor even though A,C never shared a bucket).

    Adaptive execution: the candidate graph is tiny relative to the
    corpus (only docs with near-duplicates appear), so when the edge
    count is at most ``driver_edge_threshold`` the edges are collected
    and solved with union-find on the driver — O(E α(E)), one Spark
    action, no iterations. Above the threshold: distributed min-label
    propagation with pointer jumping — each round every node takes
    ``min(own label, neighbors' labels)`` and then follows its label's
    label (``component ← labels[component].component``, the
    Shiloach-Vishkin shortcut). Propagation alone moves the component
    minimum one hop per round (O(diameter) rounds); the jump composes
    reachable-label chains so the minimum spreads in O(log diameter)
    rounds — a 1M-node duplicate chain converges in ~20 rounds instead
    of raising. Convergence is detected by a changed-row count (labels
    are monotone non-increasing), and ``localCheckpoint`` truncates
    lineage each round (the classic iterative-algorithm hazard at
    scale). Both paths are deterministic (min() has no ties) and
    produce identical labels.
    """
    spark = pairs.sparkSession
    # Materialize the edge list once — its lineage (e.g. the whole MinHash
    # candidate generation) would otherwise re-execute on every iteration's
    # join against the evolving labels.
    # Null ids cannot participate in a component (and would poison both the
    # driver union-find comparison and the min-label aggregate): drop them.
    edge_rows_df = (
        pairs.select(
            F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .localCheckpoint()
    )
    n_edges = edge_rows_df.count()

    if n_edges <= driver_edge_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in edge_rows_df.collect():
            a, b = row["src"], row["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # Union by min id keeps the canonical-label invariant.
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        rows = [(node, find(node)) for node in parent]
        return spark.createDataFrame(rows, "node long, component long")

    edges = edge_rows_df.union(
        edge_rows_df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    converged = labels.count() == 0  # empty graph is trivially converged
    for _ in range(max_iter):
        if converged:
            break
        nbr_min = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("nbr_node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # Compute the new label AND whether it changed in one pass; the
        # changed-count convergence check is overflow-safe (a sum of the
        # labels themselves would overflow BIGINT under ANSI mode once
        # ids are large hashes, e.g. 2^62-scale fingerprints).
        stepped = (
            labels.join(nbr_min, labels["node"] == nbr_min["nbr_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                (
                    F.coalesce(F.col("nbr_min"), F.col("component"))
                    < F.col("component")
                ).cast("int").alias("changed"),
            )
            .localCheckpoint()
        )
        # Pointer jumping: component ← labels[component].component. A label
        # is always a node id in the same component (labels start as node
        # ids and only min() over them), so the lookup is total; the jumped
        # label is reachable from the old one, hence still in-component,
        # and monotone (labels[c].component ≤ c because c's own label
        # started at c and only decreases).
        jumped = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("node").alias("jnode"), F.col("component").alias("jcomp")
                ).alias("j"),
                F.col("s.component") == F.col("j.jnode"),
                "left",
            )
            .select(
                F.col("s.node").alias("node"),
                F.coalesce(F.col("j.jcomp"), F.col("s.component")).alias("component"),
                (
                    (F.col("s.changed") == F.lit(1))
                    | (
                        F.coalesce(F.col("j.jcomp"), F.col("s.component"))
                        < F.col("s.component")
                    )
                ).cast("int").alias("changed"),
            )
            .localCheckpoint()
        )
        changed = jumped.agg(F.sum("changed")).collect()[0][0] or 0
        labels = jumped.select("node", "component")
        converged = changed == 0
    if not converged:
        # Silent truncation would report one duplicate cluster as several.
        # With pointer jumping this backstop needs diameter > 2^max_iter —
        # unreachable for any real duplicate graph — but fail loudly rather
        # than deduplicate wrongly if it ever trips.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "the candidate graph has components with diameter > 2^max_iter — "
            "raise max_iter"
        )
    return labels
