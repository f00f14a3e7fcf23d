"""Similarity search over embedding columns (array<float>).

Each search method has one implementation: a batch operator over a query
TABLE, returning ``(query_id, id, cosine_sim, rank)``. A single query
(``cosine_topk``, ``ann_topk_lsh``, ``ann_topk_ivf``) is that operator on
the one-row query frame of ``query_id``, projected to ``(id, cosine_sim)``
in rank order. Every score is :func:`exact_cosine` and every rank comes
from :func:`_topk_per_query`, a ``row_number() <= k`` window that Spark
plans as a partial ``WindowGroupLimit`` before the shuffle and a final
one after it, so each partition ships at most k rows per query.

* **brute-force cosine** — ``zip_with`` dot product + ``aggregate`` norm
  over every (row, query) pair, the query set broadcast. The correctness
  baseline the ANN methods are measured against.
* **LSH-bucketed ANN** — random-hyperplane signatures (deterministic planes
  derived from md5 of the dimension index, so every engine reproduces them),
  candidates = rows sharing a probe bucket with the query in any of
  ``tables`` plane families, exact re-rank. Pure built-in expressions.
* **IVF-Flat ANN** — coarse k-means quantizer trained on a bounded
  deterministic sample, inverted-list assignment via one Arrow-batched
  matrix multiply, probe-list equi-join + exact re-rank.

``write_lsh_index`` / ``write_ivf_index`` materialize the two ANN layouts
as Spark partitioning, and ``ann_topk_lsh_index`` / ``ann_topk_ivf_index``
answer a query vector by reading only its probe partitions.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def exact_cosine(vec: Column, query_vec: Column) -> Column:
    """The score every operator reports: cosine in double precision,
    rounded to 6 decimals — the policy the DuckDB oracles reproduce."""
    return F.round(
        cosine(vec.cast("array<double>"), query_vec.cast("array<double>")), 6
    ).cast("double")


def _topk_per_query(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Rank candidates per query (one shuffle on query_id), deterministic
    id tie-break."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", "rank")
    )


def _in_rank_order(ranked: DataFrame, id_col: str) -> DataFrame:
    """One query's ranked rows as ``(id, cosine_sim)``, best first. At
    most k rows, so they are sorted in one partition rather than by a
    range shuffle."""
    return ranked.coalesce(1).sortWithinPartitions("rank").select(id_col, "cosine_sim")


def _one_query(batch, embeddings, query_id, id_col, vec_col, **params) -> DataFrame:
    """Run the batch operator ``batch`` on the one-row query frame of
    ``query_id`` (empty when the id is absent)."""
    queries = embeddings.filter(F.col(id_col) == query_id)
    return _in_rank_order(
        batch(embeddings, queries, id_col=id_col, vec_col=vec_col, **params), id_col
    )


def _vector_topk(
    pruned: DataFrame, query_vec, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Top-k of an index scan against one literal query vector, ranked
    exactly like the batch operators."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = pruned.select(
        F.lit(0).alias("query_id"),
        id_col,
        exact_cosine(F.col(vec_col), qlit).alias("cosine_sim"),
    )
    return _in_rank_order(_topk_per_query(scored, k, id_col), id_col)


def cosine_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force per-query top-k for a query TABLE (no per-query driver
    round-trips): broadcast the query set, score every (row, query) pair in
    one pass, rank per query with a window. The exact baseline the batch
    ANN variants are measured against."""
    qs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(qs))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            exact_cosine(F.col(vec_col), F.col("query_vec")).alias("cosine_sim"),
        )
    )
    return _topk_per_query(scored, k, id_col)


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against the row with ``query_id``:
    :func:`cosine_topk_batch` on a one-row query frame."""
    return _one_query(cosine_topk_batch, embeddings, query_id, id_col, vec_col, k=k)


def _table_salt(table: int) -> str:
    """Key prefix for one LSH hash table. Table 0 keeps the original
    unprefixed ``plane{p}:{i}`` key so single-table signatures (and every
    oracle derived from them) stay bit-identical; additional tables of the
    OR-construction salt the key with ``t{table}:``."""
    return "" if table == 0 else f"t{table}:"


# Plane components are precomputed for dims below this and read from a
# constant array inside the projection lambda; wider vectors fall back to
# the md5 expression for the dims past it.
_LITERAL_DIMS = 256


def _plane_component(dim_index: Column, plane: Column, table: int = 0) -> Column:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    md5-derived, reproducible in any engine."""
    key = F.concat(
        F.lit(f"{_table_salt(table)}plane"), plane.cast("string"), F.lit(":"),
        dim_index.cast("string"),
    )
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
    return h / F.lit(4294967296.0) - 0.5


def _plane_components(plane: int, table: int, dims: int) -> tuple[float, ...]:
    """The first ``dims`` components of one plane, as :func:`_plane_component`
    computes them. ``h / 2^32 - 0.5`` is exact in double, so the literal
    and the expression agree bit for bit."""
    import hashlib

    salt = _table_salt(table)
    return tuple(
        int(hashlib.md5(f"{salt}plane{plane}:{i}".encode()).hexdigest()[:8], 16)
        / 4294967296.0
        - 0.5
        for i in range(dims)
    )


def lsh_signature(vec: Column, planes: int = 8, table: int = 0) -> Column:
    """Random-hyperplane sign signature packed into an int. ``table``
    selects an independent plane family (OR-construction); table 0 is the
    original family.

    One ``aggregate`` over the vector with a ``planes``-slot accumulator:
    slot p adds ``v_i * c_pi`` in element order, the left fold
    :func:`lsh_signature_py` makes per plane, so every sign matches it.
    Components come from one constant array of planes × ``_LITERAL_DIMS``
    (``c_pi`` at ``p * _LITERAL_DIMS + i``), the md5 expression only past
    it. A null vector signs 0."""
    # One string literal cast to array<double>, folded to a constant by the
    # optimizer. ``repr`` round-trips a double.
    comps = ",".join(
        repr(c) for p in range(planes) for c in _plane_components(p, table, _LITERAL_DIMS)
    )
    lits = F.split(F.lit(comps), ",").cast("array<double>")

    def component(p: Column, i: Column) -> Column:
        return F.when(i < _LITERAL_DIMS, F.get(lits, p * _LITERAL_DIMS + i)).otherwise(
            _plane_component(i, p, table)
        )

    dims = F.transform(vec, lambda x, i: F.struct(x.alias("v"), i.alias("i")))
    proj = F.aggregate(
        dims,
        F.array_repeat(F.lit(0.0), planes),
        lambda acc, d: F.transform(acc, lambda s, p: s + d["v"] * component(p, d["i"])),
    )
    # Bit p is plane p's sign: Horner's rule from the last plane.
    sig = F.aggregate(
        F.reverse(proj), F.lit(0), lambda a, s: a * 2 + F.when(s > 0, 1).otherwise(0)
    )
    return F.coalesce(sig, F.lit(0))


def lsh_signature_py(vec, planes: int = 8, table: int = 0) -> int:
    """Driver-side twin of :func:`lsh_signature` — bit-identical: the same
    md5-derived plane components and the same left-fold summation order as
    Spark's ``aggregate`` (element order, scalar adds), so the float
    rounding (and thus every sign) matches exactly."""
    sig = 0
    for p in range(planes):
        comps = _plane_components(p, table, len(vec))
        proj = 0.0
        for v, c in zip(vec, comps):
            proj += float(v) * c
        if proj > 0:
            sig += 1 << p
    return sig


def _lsh_signatures(vec: Column, planes: int, tables: int) -> Column:
    """One signature per plane family, as an array indexed by table."""
    vec_d = vec.cast("array<double>")
    return F.array(*[lsh_signature(vec_d, planes, table=t) for t in range(tables)])


def _probe_masks(planes: int, hamming: int) -> list[int]:
    """All XOR masks within the given Hamming radius of a signature: the
    multi-probe sequence (Lv et al., multi-probe LSH) enumerated exactly."""
    from itertools import combinations

    return [
        sum(1 << b for b in bits)
        for h in range(hamming + 1)
        for bits in combinations(range(planes), h)
    ]


def ann_topk_lsh_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 8,
    hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 1,
) -> DataFrame:
    """Batch multi-probe LSH ANN: score only the rows that share a probe
    bucket with the query — every bucket within ``hamming`` sign-flips of
    the query signature (``hamming=0`` is single-bucket probing).
    Output: (query_id, id, cosine_sim, rank) per query.

    Both sides posexplode one signature per plane family and meet on the
    (table, bucket) equi-join key; the query side also explodes its
    XOR-mask probe list (Σ C(planes,i), i≤hamming rows per table — 22 of
    64 buckets at 6 planes / hamming 2), broadcast against the corpus. No
    driver loop, and at scale each table's rows are a partition stripe of
    ``write_lsh_index``.

    ``tables > 1`` is the OR-construction (Indyk-Motwani: a point is a
    candidate if ANY of L independent plane families co-buckets it with
    the query). Per-table collision probability p gives a miss rate of
    (1-p)^L, which rescues recall in the near-orthogonal regime where one
    sign-LSH table's p per true neighbour decays toward the random
    baseline (each hyperplane agrees with probability 1-θ/π → 0.5 as
    θ→π/2; the single-table driver row pins 0.3-0.6 recall). A candidate
    found by several tables is deduped per (query, id) before the exact
    cosine, so the re-rank cost is |union|, not Σ per-table."""
    sigs = _lsh_signatures(F.col(vec_col), planes, tables)
    corpus = embeddings.select(
        id_col, vec_col, F.posexplode(sigs).alias("lsh_table", "lsh_bucket")
    )
    # One constant array (a string literal cast), not a node per mask.
    mask_csv = ",".join(map(str, _probe_masks(planes, hamming)))
    masks = F.split(F.lit(mask_csv), ",").cast("array<int>")
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.posexplode(sigs).alias("query_table", "query_bucket"),
    ).select(
        "query_id",
        "query_vec",
        "query_table",
        F.explode(
            F.transform(masks, lambda m: F.col("query_bucket").bitwiseXOR(m))
        ).alias("probe_bucket"),
    )
    candidates = corpus.join(
        F.broadcast(probes),
        (F.col("lsh_table") == F.col("query_table"))
        & (F.col("lsh_bucket") == F.col("probe_bucket")),
    ).filter(F.col(id_col) != F.col("query_id"))
    if tables > 1:
        # The kept duplicate is arbitrary, but (vec, query_vec) are
        # functionally dependent on the ids, so every duplicate carries
        # identical vectors.
        candidates = candidates.dropDuplicates(["query_id", id_col])
    scored = candidates.select(
        "query_id",
        id_col,
        exact_cosine(F.col(vec_col), F.col("query_vec")).alias("cosine_sim"),
    )
    return _topk_per_query(scored, k, id_col)


def ann_topk_lsh(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    planes: int = 8,
    hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over the query's multi-probe LSH bucket set:
    single-table :func:`ann_topk_lsh_batch` on a one-row query frame.

    Recall caveat (measured, see ``similarity_ann_lsh_recall``): sign-LSH
    recall tracks the neighbours' cosine — strong when true neighbours are
    close in angle, weak when the corpus is near-orthogonal noise. The
    driver corpus is the hostile regime, which is exactly why the recall is
    pinned by an oracle rather than assumed.
    """
    return _one_query(
        ann_topk_lsh_batch, embeddings, query_id, id_col, vec_col,
        k=k, planes=planes, hamming=hamming,
    )


def write_lsh_index(
    embeddings: DataFrame,
    path: str,
    planes: int = 8,
    vec_col: str = "embedding",
    tables: int = 1,
) -> None:
    """Materialize the LSH layout: each row is written once per plane
    family, ``partitionBy(lsh_table, lsh_bucket)``. A query then reads
    only its multi-probe bucket stripes (Σ C(planes,i), i ≤ hamming
    partitions of 2^planes per table) through partition pruning — the LSH
    twin of ``write_ivf_index``. ``tables`` families cost L× storage (the
    classic L-table LSH trade). No routing table needed: the planes are
    md5-derived from the dimension index, so the query signature is
    recomputable anywhere."""
    embeddings.select(
        "*",
        F.posexplode(_lsh_signatures(F.col(vec_col), planes, tables)).alias(
            "lsh_table", "lsh_bucket"
        ),
    ).write.mode("overwrite").partitionBy("lsh_table", "lsh_bucket").parquet(path)


def ann_topk_lsh_index(
    spark,
    path: str,
    query_vec,
    k: int = 10,
    planes: int = 8,
    hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 1,
) -> DataFrame:
    """Query a written LSH index: compute the query signature of each plane
    family driver-side (tiny, no Spark job), expand the Hamming-radius
    probe set, and scan ONLY those stripes before the exact cosine
    re-rank. The probe predicate is an OR of per-table (lsh_table = t AND
    lsh_bucket IN probes_t) conjunctions — a pure partition-column
    predicate, so the scan prunes to the probe stripes of each table. A
    point retrieved by several tables is deduped on id."""
    q = [float(x) for x in query_vec]
    masks = _probe_masks(planes, hamming)
    pred = reduce(
        or_,
        [
            (F.col("lsh_table") == t)
            & F.col("lsh_bucket").isin(
                [lsh_signature_py(q, planes, table=t) ^ m for m in masks]
            )
            for t in range(tables)
        ],
    )
    pruned = spark.read.parquet(path).filter(pred)
    if tables > 1:
        pruned = pruned.dropDuplicates([id_col])
    return _vector_topk(pruned, q, k, id_col, vec_col)


def ivf_n_centroids(total_rows: int, lo: int = 8, hi: int = 65536) -> int:
    """The FAISS sizing rule for IVF list count: n_centroids ≈ √N, rounded
    to a power of two (stable partition counts across small corpus drift),
    clamped to [lo, hi]. 100 TB ≈ 10^11 docs → 65536 lists; the sf0.01
    test table (600 vecs) → 32."""
    import math

    if total_rows <= 1:
        return lo
    target = max(lo, min(hi, int(round(math.sqrt(total_rows)))))
    return max(lo, min(hi, 1 << int(round(math.log2(target)))))


def _unit_rows(x: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm; all-zero rows stay zero."""
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return x / norms


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int | str = 16,
    max_sample: int = 4096,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    samples_per_centroid: int = 256,
):
    """Train an IVF coarse quantizer with Lloyd k-means on a bounded,
    deterministic sample.

    IVF training is a small-sample operation even at 100 TB — FAISS trains
    IVF lists on ~30-256 vectors per centroid, not the full corpus. The
    sample is taken by id stride (``vec_id % step == 0``), not ``rand()``,
    so every run / retry / engine produces identical centroids, and Lloyd
    iterations are a fixed count (no convergence-dependent early exit).

    Two execution paths, routed by the training-set size the requested
    quantizer actually needs (``n_centroids × samples_per_centroid``):

    * **driver path** (needs ≤ ``max_sample``): collect the sample, NumPy
      Lloyd on the driver. k-means init is the first ``n_centroids``
      sample rows in id order. Bit-exact pure function of table contents.
    * **executor path** (needs > ``max_sample``): the sample stays
      distributed — each Lloyd round is one ``mapInPandas`` pass emitting
      per-partition per-list partial (Σvec, count), reduced by a tiny
      ``groupBy``; only the n_centroids × dim centroid matrix ever reaches
      the driver. This is what √N centroids at corpus scale requires:
      n_centroids = 65536 wants a ~16M-row training set, far beyond any
      sane ``collect()``. Centroid coordinates are rounded to 9 decimals
      each round to absorb float merge-order noise; that makes results
      stable across shuffle schedules on a best-effort basis (a sum whose
      noise straddles a rounding boundary can still differ).

    ``n_centroids="auto"`` applies the √N rule (``ivf_n_centroids``).

    Returns a ``numpy.ndarray`` of shape (min(n_centroids, sample rows),
    dim), L2-normalized (cosine IVF assigns by max dot product with
    normalized centroids).
    """

    total = embeddings.count()
    if n_centroids == "auto":
        n_centroids = ivf_n_centroids(total)
    needed = n_centroids * samples_per_centroid
    if needed > max_sample:
        return _train_ivf_distributed(
            embeddings, n_centroids, needed, iters, id_col, vec_col, total
        )
    step = max(total // max_sample, 1)
    sample = (
        embeddings.filter(F.col(id_col) % step == 0)
        .orderBy(id_col)
        .limit(max_sample)
        .select(vec_col)
        .collect()
    )
    x = np.asarray([r[0] for r in sample], dtype=np.float64)
    if len(x) == 0:
        raise ValueError("no vectors to train IVF centroids on")
    n_centroids = min(n_centroids, len(x))
    xn = _unit_rows(x)

    centroids = xn[:n_centroids].copy()
    for _ in range(iters):
        sims = xn @ centroids.T  # cosine = dot of normalized vectors
        assign = np.argmax(sims, axis=1)
        for c in range(n_centroids):
            members = xn[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids = _unit_rows(centroids)
    return centroids


def _train_ivf_distributed(
    embeddings: DataFrame,
    n_centroids: int,
    sample_target: int,
    iters: int,
    id_col: str,
    vec_col: str,
    total: int,
):
    """Executor-side Lloyd: the training sample never leaves the cluster.

    Per round, ONE ``mapInPandas`` pass over the (localCheckpointed,
    id-stride) sample computes per-partition per-list partial sums — at
    most n_centroids rows per partition, combined map-side exactly like a
    partial aggregate — and a ``posexplode``+``groupBy`` reduces them to
    the n_centroids × dim new-centroid matrix. Driver traffic per round is
    therefore exactly one centroid matrix, independent of sample size;
    n_centroids = 65536 over a 16M-row training set moves ~64 MB/round.

    Init: one deterministic vector per hash bucket
    (``min_by(vec, id) GROUP BY xxhash64(id) % n_centroids``) — spreads
    seeds across the sample without a global sort. Hash buckets the
    sample leaves empty are topped up with the smallest sample ids not
    already seeding a list, so exactly min(n_centroids, sample rows)
    centroids come back. Lists that go empty during an iteration keep
    their previous centroid (standard Lloyd degeneracy handling, same as
    the driver path)."""
    sample = (
        embeddings.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .filter(
            (F.col("_id").isNotNull())
            & (F.col("_id") % max(total // sample_target, 1) == 0)
        )
        .localCheckpoint()
    )
    n_sample = sample.count()
    if n_sample == 0:
        raise ValueError("no vectors to train IVF centroids on")
    n_centroids = min(n_centroids, n_sample)

    init_rows = (
        sample.groupBy(F.pmod(F.xxhash64("_id"), F.lit(n_centroids)).alias("b"))
        .agg(F.min("_id").alias("id"), F.min_by("_v", "_id").alias("v"))
        .orderBy("b")
        .collect()
    )
    seeds = [r["v"] for r in init_rows]
    if len(seeds) < n_centroids:
        chosen = {r["id"] for r in init_rows}
        smallest = sample.orderBy("_id").limit(n_centroids).collect()
        seeds += [r["_v"] for r in smallest if r["_id"] not in chosen][
            : n_centroids - len(seeds)
        ]
    centroids = np.round(_unit_rows(np.asarray(seeds, dtype=np.float64)), 9)
    dim = centroids.shape[1]

    for _ in range(iters):
        cmat = centroids  # closure-broadcast: tiny vs the sample

        def part_sums(batches, _c=cmat, _dim=dim):
            for pdf in batches:
                vs = pdf["_v"]
                ok = vs.map(lambda v: v is not None and len(v) == _dim)
                if not ok.any():
                    continue
                xn = _unit_rows(np.asarray(list(vs[ok]), dtype=np.float64))
                assign = np.argmax(xn @ _c.T, axis=1)
                lists = np.unique(assign)
                yield pd.DataFrame(
                    {
                        "list": lists.astype("int32"),
                        "cnt": [int((assign == c).sum()) for c in lists],
                        "vsum": [xn[assign == c].sum(axis=0).tolist() for c in lists],
                    }
                )

        partials = sample.mapInPandas(
            part_sums, schema="list int, cnt bigint, vsum array<double>"
        )
        stats = (
            partials.select(
                "list", "cnt", F.posexplode("vsum").alias("pos", "val")
            )
            .groupBy("list", "pos")
            .agg(
                F.sum("val").alias("s"),
                # cnt repeats per pos within a partial; take it once.
                F.sum(F.when(F.col("pos") == 0, F.col("cnt"))).alias("n"),
            )
            .collect()
        )
        sums = np.zeros_like(centroids)
        counts = np.zeros(centroids.shape[0], dtype=np.int64)
        for r in stats:
            sums[r["list"], r["pos"]] = r["s"]
            if r["pos"] == 0 and r["n"] is not None:
                counts[r["list"]] = r["n"]
        nonempty = counts > 0
        centroids[nonempty] = sums[nonempty] / counts[nonempty, None]
        centroids = np.round(_unit_rows(centroids), 9)
    return centroids


def with_ivf_list(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out_col: str = "ivf_list",
) -> DataFrame:
    """Assign each row to its nearest (max-cosine) centroid.

    The centroid matrix is tiny (n_centroids × dim) and closure-broadcast to
    executors; assignment is one Arrow-batched matrix multiply per batch —
    the vectorized path, since an argmin over C centroids is not expressible
    as a fixed-size built-in expression without C-fold plan blowup.
    """
    cmat = np.asarray(centroids, dtype=np.float64)
    dim = cmat.shape[1]

    @F.pandas_udf("int")
    def nearest_centroid(vecs: pd.Series) -> pd.Series:
        # Row isolation: a null or wrong-dimension embedding must not turn
        # the batch into an object array and kill the whole task — such
        # rows get list -1 (an unprobed list, so they never join a query).
        ok = vecs.map(lambda v: v is not None and len(v) == dim)
        out = np.full(len(vecs), -1, dtype="int32")
        if ok.any():
            x = np.asarray(list(vecs[ok]), dtype=np.float64)
            out[ok.to_numpy()] = np.argmax(_unit_rows(x) @ cmat.T, axis=1).astype("int32")
        return pd.Series(out)

    # Never null (bad rows get -1); saying so lets Catalyst drop the
    # isnotnull(ivf_list) filter it infers for a join or probe filter on
    # the list, which it would otherwise evaluate with a second UDF pass.
    return df.withColumn(
        out_col, F.coalesce(nearest_centroid(F.col(vec_col)), F.lit(-1))
    )


def _nearest_lists(cmat: np.ndarray, vec, n_probe: int) -> list[int]:
    """The ``n_probe`` inverted lists whose centroids are nearest (max
    cosine) to ``vec``, nearest first."""
    q = np.asarray(vec, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)
    return [int(i) for i in np.argsort(-(cmat @ qn))[:n_probe]]


def ann_topk_ivf_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int | str = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """Batch IVF ANN: assign every query to its ``n_probe`` nearest
    centroids with one Arrow-batched pass (no per-query driver
    round-trip), explode the probe lists, equi-join against the
    list-assigned corpus, exact re-rank per query. The quantizer is
    trained here unless ``centroids`` passes a trained one (e.g. from
    ``write_ivf_index`` or the executor-side trainer)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_centroids, id_col=id_col, vec_col=vec_col
        )
    cmat = np.asarray(centroids, dtype=np.float64)
    listed = with_ivf_list(embeddings, cmat, vec_col=vec_col)
    dim = cmat.shape[1]

    @F.pandas_udf("array<int>")
    def probe_lists(vecs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [] if v is None or len(v) != dim else _nearest_lists(cmat, v, n_probe)
                for v in vecs
            ]
        )

    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(probe_lists(F.col(vec_col))).alias("ivf_list"),
    )
    scored = (
        listed.join(F.broadcast(probes), "ivf_list")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            exact_cosine(F.col(vec_col), F.col("query_vec")).alias("cosine_sim"),
        )
    )
    return _topk_per_query(scored, k, id_col)


def ann_topk_ivf(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int | str = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF ANN for the row with ``query_id``: :func:`ann_topk_ivf_batch` on
    a one-row query frame. Pass ``centroids`` to reuse a pre-trained
    quantizer instead of retraining."""
    return _one_query(
        ann_topk_ivf_batch, embeddings, query_id, id_col, vec_col,
        k=k, n_centroids=n_centroids, n_probe=n_probe, centroids=centroids,
    )


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Materialize the IVF layout: train the coarse quantizer, assign every
    row to its inverted list, and write the table PARTITIONED BY ivf_list.
    This is the FAISS IVF-Flat file layout expressed as Spark partitioning
    — each query then touches n_probe/n_centroids of the data through
    partition pruning (asserted on the physical plan by
    ``test_operators.test_ivf_index_partition_pruning``).

    Returns the trained centroid matrix (persist it next to the index; it
    is the query-time routing table)."""
    centroids = train_ivf_centroids(
        embeddings, n_centroids, id_col=id_col, vec_col=vec_col
    )
    listed = with_ivf_list(embeddings, centroids, vec_col=vec_col)
    listed.write.mode("overwrite").partitionBy("ivf_list").parquet(path)
    return centroids


def ann_topk_ivf_index(
    spark,
    path: str,
    centroids,
    query_vec,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a written IVF index: pick the query's ``n_probe`` nearest
    centroids driver-side (tiny matrix), then scan ONLY those list
    partitions (partition pruning on the ivf_list filter) and re-rank with
    exact cosine."""
    q = [float(x) for x in query_vec]
    probes = _nearest_lists(np.asarray(centroids, dtype=np.float64), q, n_probe)
    pruned = spark.read.parquet(path).filter(F.col("ivf_list").isin(probes))
    return _vector_topk(pruned, q, k, id_col, vec_col)
