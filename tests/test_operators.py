"""DataFrame-API operator modules vs the dialect-template SQL: the package's
dedup/similarity/textops operators must produce exactly the rows the
SQL-template (and hence the DuckDB oracle) produces."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from riptide_spark import oracle_queries as OQ

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    df.createOrReplaceTempView("documents")
    return df


@pytest.fixture(scope="module")
def embeddings(spark):
    df = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    df.createOrReplaceTempView("embeddings")
    return df


def _rows(df, key=None):
    data = [tuple(r) for r in df.collect()]
    return sorted(data, key=lambda t: tuple(str(x) for x in t))


def test_minhash_operator_matches_sql(spark, docs):
    from riptide_spark.operators.dedup import minhash_signatures

    api = minhash_signatures(docs, "text", "doc_id", num_hashes=8)
    sql = spark.sql(OQ.spark_sql("minhash_signatures"))
    assert _rows(api) == _rows(sql)


def test_exact_dedup_operator_matches_sql(spark, docs):
    from riptide_spark.operators.dedup import exact_duplicate_groups

    corpus = docs.select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    api = exact_duplicate_groups(corpus)
    sql = spark.sql(OQ.spark_sql("dedup_exact")).selectExpr(
        "fingerprint", "n_docs", "keep_id"
    )
    assert _rows(api.select("fingerprint", "n_docs", "keep_id")) == _rows(sql)
    assert api.count() > 0  # the duplicated corpus must produce groups


def test_simhash_operator_matches_sql(spark, docs):
    from riptide_spark.operators.dedup import simhash_fingerprints

    api = simhash_fingerprints(docs, "text", "doc_id", bits=16)
    sql = spark.sql(OQ.spark_sql("simhash_fingerprints"))
    assert _rows(api) == _rows(sql)


def test_jaccard_operator_finds_duplicates(spark, docs):
    from riptide_spark.operators.dedup import ngram_jaccard_pairs

    corpus = docs.select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    pairs = ngram_jaccard_pairs(corpus, threshold=0.99).collect()
    # Every injected duplicate pair (id, id+100000) must be found at 1.0.
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    expected_ids = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 20 == 0).collect()]
    for i in expected_ids:
        assert (i, i + 100000) in found
    assert all(abs(r["jaccard"] - 1.0) < 1e-9 for r in pairs if r["id_b"] - r["id_a"] == 100000)


def test_minhash_lsh_recall_on_duplicates(spark, docs):
    from riptide_spark.operators.dedup import minhash_candidate_pairs

    corpus = docs.select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    candidates = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(corpus).collect()
    }
    expected_ids = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 20 == 0).collect()]
    # Exact duplicates share every band → 100% LSH recall on them.
    for i in expected_ids:
        assert (i, i + 100000) in candidates


@pytest.mark.parametrize("cap", ["default", 10, 2])
def test_ngram_candidates_are_minhash_candidates(spark, docs, cap):
    """ngram_jaccard_pairs has one candidate path, minhash_candidate_pairs':
    at threshold 0 every candidate verifies, so the two pair sets are
    equal — with the default cap, and with caps that push buckets onto
    the hub–spoke rule."""
    from riptide_spark.operators.dedup import (
        DEFAULT_BUCKET_CAP,
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    cap = DEFAULT_BUCKET_CAP if cap == "default" else cap
    corpus = docs.select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    ngram = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(corpus, threshold=0.0, bucket_size_cap=cap).collect()
    }
    minhash = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(corpus, bucket_size_cap=cap).collect()
    }
    assert ngram and ngram == minhash


def test_cosine_topk_operator_matches_sql(spark, embeddings):
    from riptide_spark.operators.similarity import cosine_topk

    api = cosine_topk(embeddings, query_id=0, k=10)
    sql = spark.sql(OQ.spark_sql("similarity_cosine_topk"))
    assert _rows(api) == _rows(sql)


def test_ann_lsh_consistent_with_bruteforce(spark, embeddings):
    from riptide_spark.operators.similarity import ann_topk_lsh, cosine_topk

    exact_all = {
        r["vec_id"]: r["cosine_sim"]
        for r in cosine_topk(embeddings, 0, k=10_000).collect()
    }
    rows = ann_topk_lsh(embeddings, 0, k=10, planes=4).collect()
    assert rows, "query bucket should contain candidates"
    # Candidate scores are exact cosines: each must equal the brute-force
    # score for that id, and the list must be sorted descending.
    for r in rows:
        assert -1.0 <= r["cosine_sim"] <= 1.0
        assert abs(r["cosine_sim"] - exact_all[r["vec_id"]]) < 1e-9
    sims = [r["cosine_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_ann_ivf_consistent_with_bruteforce(spark, embeddings):
    from riptide_spark.operators.similarity import ann_topk_ivf, cosine_topk

    exact_all = {
        r["vec_id"]: r["cosine_sim"]
        for r in cosine_topk(embeddings, 0, k=10_000).collect()
    }
    rows = ann_topk_ivf(embeddings, 0, k=10, n_centroids=8, n_probe=2).collect()
    assert rows, "probe lists should contain candidates"
    for r in rows:
        assert -1.0 <= r["cosine_sim"] <= 1.0
        assert abs(r["cosine_sim"] - exact_all[r["vec_id"]]) < 1e-9
    sims = [r["cosine_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    # With clustered label data, probing 2/8 lists should recover most of
    # the exact top-10 (the query's own cluster is always probed first).
    exact_top = [
        r["vec_id"] for r in cosine_topk(embeddings, 0, k=10).collect()
    ]
    got = {r["vec_id"] for r in rows}
    assert len(got & set(exact_top)) >= 5


def test_ivf_centroids_deterministic(spark, embeddings):
    import numpy as np

    from riptide_spark.operators.similarity import (
        train_ivf_centroids,
        with_ivf_list,
    )

    c1 = train_ivf_centroids(embeddings, n_centroids=8)
    c2 = train_ivf_centroids(embeddings, n_centroids=8)
    assert np.array_equal(c1, c2)
    # Unit-norm centroids (cosine quantizer).
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)
    # Assignment covers every row with a valid list id, deterministically.
    a1 = sorted(
        (r["vec_id"], r["ivf_list"])
        for r in with_ivf_list(embeddings, c1).select("vec_id", "ivf_list").collect()
    )
    a2 = sorted(
        (r["vec_id"], r["ivf_list"])
        for r in with_ivf_list(embeddings, c2).select("vec_id", "ivf_list").collect()
    )
    assert a1 == a2
    assert all(0 <= l < 8 for _, l in a1)
    assert len(a1) == embeddings.count()


def test_ivf_distributed_training_returns_every_requested_centroid(spark, embeddings):
    """Hash-bucket seeding leaves some of the n_centroids buckets empty on
    a small sample (100 ids into 64 buckets fill 51); the executor-side
    trainer must top the seeds up, deterministically, so the quantizer
    has exactly min(n_centroids, sample rows) lists, all unit-norm and
    distinct."""
    import numpy as np

    from riptide_spark.operators.similarity import train_ivf_centroids

    small = embeddings.filter(F.col("vec_id") < 100)
    n_rows = small.count()
    # needed = 64 × 256 > max_sample 256 → distributed path.
    c1 = train_ivf_centroids(small, n_centroids=64, max_sample=256)
    c2 = train_ivf_centroids(small, n_centroids=64, max_sample=256)
    assert c1.shape == (min(64, n_rows), 64)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-6)
    assert len({tuple(row) for row in c1}) == c1.shape[0]
    assert np.array_equal(c1, c2)


def test_ivf_n_centroids_sqrt_rule():
    """√N sizing, power-of-two rounded, clamped: the sf0.01 table (600
    vecs) gets 32 lists; a 10^11-doc corpus saturates the 65536 cap."""
    from riptide_spark.operators.similarity import ivf_n_centroids

    assert ivf_n_centroids(0) == 8
    assert ivf_n_centroids(600) == 32
    assert ivf_n_centroids(1_000_000) == 1024
    assert ivf_n_centroids(10**11) == 65536


def test_ivf_distributed_training_path(spark, embeddings):
    """Executor-side Lloyd (forced by requesting a training set larger
    than the driver-collect cap): unit-norm centroid matrix of the right
    shape, deterministic across runs, and the trained quantizer still
    yields exact per-candidate scores + usable recall through the full
    IVF batch path."""
    import numpy as np

    from riptide_spark.operators.similarity import (
        ann_topk_ivf,
        cosine_topk,
        train_ivf_centroids,
        with_ivf_list,
    )

    # needed = 64 × 256 = 16384 > max_sample 4096 → distributed path.
    c1 = train_ivf_centroids(embeddings, n_centroids=64, max_sample=4096)
    c2 = train_ivf_centroids(embeddings, n_centroids=64, max_sample=4096)
    assert c1.shape == (64, 64)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-6)
    assert np.array_equal(c1, c2)
    n_lists = c1.shape[0]
    assigned = with_ivf_list(embeddings, c1)
    lists = {r["ivf_list"] for r in assigned.select("ivf_list").distinct().collect()}
    assert all(0 <= l < n_lists for l in lists)
    # End-to-end: every ANN score from the distributed quantizer is the
    # exact cosine for that id, and probing recovers most of the true top-k.
    exact_all = {
        r["vec_id"]: r["cosine_sim"]
        for r in cosine_topk(embeddings, 0, k=10_000).collect()
    }
    rows = ann_topk_ivf(
        embeddings, 0, k=10, n_probe=8, centroids=c1
    ).collect()
    assert rows
    for r in rows:
        assert abs(r["cosine_sim"] - exact_all[r["vec_id"]]) < 1e-9
    exact_top = {r["vec_id"] for r in cosine_topk(embeddings, 0, k=10).collect()}
    assert len({r["vec_id"] for r in rows} & exact_top) >= 5


def test_textops_match_sql(spark, docs):
    from riptide_spark.operators.dedup import exact_fingerprint
    from riptide_spark.operators.textops import (
        bpeish_tokens,
        langid_columns,
        quality_signal_columns,
        whitespace_tokens,
    )

    api = docs.select(
        "doc_id",
        whitespace_tokens(F.col("text")).alias("ws_tokens"),
        bpeish_tokens(F.col("text")).alias("bpe_tokens"),
    )
    sql = spark.sql(OQ.spark_sql("token_counts"))
    assert _rows(api) == _rows(sql)

    api_lang = docs.select("doc_id", F.col("lang").alias("actual_lang"),
                           *langid_columns(F.col("text")))
    sql_lang = spark.sql(OQ.spark_sql("langid_stopwords"))
    assert sorted(api_lang.columns) == sorted(sql_lang.columns)
    assert _rows(api_lang.select(*sorted(api_lang.columns))) == _rows(
        sql_lang.select(*sorted(sql_lang.columns))
    )

    signals = quality_signal_columns(F.col("text"))
    api_q = docs.select("doc_id", *[c.alias(n) for n, c in signals.items()])
    sql_q = spark.sql(OQ.spark_sql("text_quality_signals"))
    assert _rows(api_q.select(*sorted(api_q.columns))) == _rows(
        sql_q.select(*sorted(sql_q.columns))
    )

    api_fp = docs.select("doc_id", exact_fingerprint(F.col("text")).alias("fingerprint"))
    sql_fp = spark.sql(OQ.spark_sql("doc_fingerprints"))
    assert _rows(api_fp) == _rows(sql_fp)


def test_regex_operator_counts(spark, docs):
    from riptide_spark.operators.textops import regex_extract_counts

    enriched = docs.select(
        "doc_id",
        F.concat(
            F.lit("mail me at u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org on 2024-03-15 at https://x.example/z for $9.99 "),
            F.col("text"),
        ).alias("body"),
    )
    out = regex_extract_counts(enriched, "body", "doc_id").collect()
    for row in out:
        assert row["n_emails"] >= 1
        assert row["first_emails"].endswith("@ex.org")
        assert row["n_iso_dates"] >= 1
        assert row["n_urls"] >= 1
        assert row["n_prices"] >= 1
        assert row["first_phones"] is None  # no match → NULL, not an error


def test_embedding_near_duplicates_lsh_vs_exact(spark, embeddings):
    from riptide_spark.operators.dedup import embedding_near_duplicates

    corpus = embeddings.select("vec_id", "embedding").unionAll(
        embeddings.filter(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(corpus, use_lsh=False).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(corpus, use_lsh=True).collect()
    }
    injected = {
        (r["vec_id"], r["vec_id"] + 100000)
        for r in embeddings.filter(F.col("vec_id") % 25 == 0).collect()
    }
    # Every injected exact duplicate is found by both paths (identical
    # vectors share every hyperplane sign → LSH recall 1 on true dups).
    assert injected <= exact
    assert injected <= lsh
    # LSH candidates are a subset of the exact result (no false positives
    # survive the exact re-score).
    assert lsh <= exact


def test_connected_components_chain_cycle_pair(spark):
    from riptide_spark.operators.dedup import connected_components

    # chain 1-2-3-4, cycle 10-11-12-10, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_matches_sql_closure(spark, docs):
    from riptide_spark.operators.dedup import connected_components

    pairs = spark.sql(OQ.spark_sql("minhash_candidate_pairs"))
    loop = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    sql = {
        (r["doc_id"], r["component_id"])
        for r in spark.sql(OQ.spark_sql("dedup_connected_components")).collect()
    }
    assert loop == sql
    assert loop, "duplicated corpus must produce duplicate clusters"


def test_connected_components_paths_agree(spark):
    from riptide_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21), (5, 1)],
        "id_a long, id_b long",
    )
    fast = sorted(
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()  # driver union-find
    )
    dist = sorted(
        (r["node"], r["component"])
        for r in connected_components(pairs, driver_edge_threshold=0).collect()
    )
    assert fast == dist


def test_connected_components_long_chain_pointer_jumping(spark):
    """A duplicate chain with diameter ≫ max_iter converges on the
    distributed path: pointer jumping spreads the minimum in
    O(log diameter) rounds, so the 2000-node path graph (diameter 1999)
    fits easily in a 20-round budget that pure one-hop propagation would
    blow through (it needed 1999 rounds and raised)."""
    from riptide_spark.operators.dedup import connected_components

    n = 2000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    ).coalesce(4)
    want = sorted((i, 0) for i in range(n))
    dist = sorted(
        (r["node"], r["component"])
        for r in connected_components(
            chain, driver_edge_threshold=0, max_iter=20
        ).collect()
    )
    assert dist == want
    fast = sorted(
        (r["node"], r["component"]) for r in connected_components(chain).collect()
    )
    assert fast == want


def test_connected_components_nonconvergence_backstop_raises(spark):
    """The loud backstop survives: a budget too small for even pointer
    jumping (diameter 7 > 2^1 hops reachable in one round) raises instead
    of returning a silently-split component."""
    import pytest

    from riptide_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, driver_edge_threshold=0, max_iter=1)


def test_minhash_bucket_size_cap_drops_flood_buckets(spark):
    from riptide_spark.operators.dedup import (
        DEFAULT_BUCKET_CAP,
        exact_duplicate_groups,
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    # The boilerplate-flood guard must be ON by default at 100 TB — a caller
    # who forgets the parameter must not get the k² bucket blow-up back.
    assert DEFAULT_BUCKET_CAP is not None and DEFAULT_BUCKET_CAP > 0

    # 30 byte-identical docs (a boilerplate flood: one bucket per band holds
    # all of them) + 2 near-identical docs that form a small bucket.
    flood = [(i, "the exact same boilerplate page body repeated verbatim")
             for i in range(30)]
    pair = [(100, "a unique document about spark physical plans and shuffles"),
            (101, "a unique document about spark physical plans and shuffles")]
    corpus = spark.createDataFrame(flood + pair, "doc_id long, text string")

    uncapped = minhash_candidate_pairs(corpus, bucket_size_cap=None).collect()
    assert sum(1 for r in uncapped if r["id_a"] < 100) == 30 * 29 // 2

    # Over the cap the flood degrades to linear hub–spoke pairs — 29
    # edges from hub 0 instead of 435 — keeping the flood connected while
    # staying O(k); the small pair survives.
    star = {(r["id_a"], r["id_b"])
            for r in minhash_candidate_pairs(corpus, bucket_size_cap=10).collect()}
    assert star == {(100, 101)} | {(0, i) for i in range(1, 30)}
    # Every star pair is a genuine candidate (subset of the uncapped set).
    assert star <= {(r["id_a"], r["id_b"]) for r in uncapped}

    # The cap threads through ngram_jaccard_pairs' internal candidate
    # generation too: the byte-identical spokes verify at J = 1.
    verified = {(r["id_a"], r["id_b"])
                for r in ngram_jaccard_pairs(corpus, bucket_size_cap=10).collect()}
    assert verified == {(100, 101)} | {(0, i) for i in range(1, 30)}

    # ... and the linear exact-dup pass sees the flood as one fingerprint
    # group containing all 30 members.
    groups = exact_duplicate_groups(corpus).collect()
    flood_groups = [g for g in groups if g["keep_id"] == 0]
    assert len(flood_groups) == 1 and flood_groups[0]["n_docs"] == 30


def test_one_pass_signatures_match_per_slot_forms(spark):
    """The one-pass accumulator formulations (minhash_array's zip_with
    min-fold, simhash's vote-vector fold) must stay bit-identical to the
    per-slot composability forms (one array_min / one aggregate per
    slot) that the SQL oracles mirror — including degenerate docs:
    empty, whitespace-only, fewer words than the shingle width,
    repeated words, and non-ASCII."""
    from riptide_spark.operators.dedup import (
        minhash_signature,
        minhash_signatures,
        simhash_fingerprint,
        simhash_fingerprints,
    )

    docs = [
        (0, ""),
        (1, "   "),
        (2, "one"),
        (3, "one two"),
        (4, "one two three four five"),
        (5, "dup dup dup dup dup"),
        (6, "naïve café über straße 日本語 текст"),
        (7, "a " * 500),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    fast = sorted(tuple(r) for r in minhash_signatures(df).collect())
    slow = sorted(
        tuple(r) for r in df.select("doc_id", *minhash_signature(F.col("text"))).collect()
    )
    assert fast == slow

    # SimHash reference: the pre-round-4 per-bit shape (one aggregate per
    # bit), re-stated here so the one-pass vote vector stays pinned to it.
    from riptide_spark.operators.dedup import _hash60, _words

    def reference_simhash(hashes, bits):
        def _voter(bit):
            return lambda acc, h: acc + F.when(
                F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        total = F.lit(0).cast("bigint")
        for b in range(bits):
            votes = F.aggregate(hashes, F.lit(0).cast("bigint"), _voter(b))
            total = total + F.when(votes > 0, F.lit(1 << b).cast("bigint")).otherwise(0)
        return total

    hashed = df.select(
        "doc_id", F.transform(_words(F.lower(F.col("text"))), _hash60).alias("hh")
    )
    fast_sh = sorted(tuple(r) for r in simhash_fingerprints(df, bits=32).collect())
    slow_sh = sorted(
        tuple(r)
        for r in hashed.select(
            "doc_id", reference_simhash(F.col("hh"), 32).alias("simhash")
        ).collect()
    )
    assert fast_sh == slow_sh
    # And the single-expression composability form agrees too.
    inline_sh = sorted(
        tuple(r)
        for r in df.select(
            "doc_id", simhash_fingerprint(F.col("text"), bits=32).alias("simhash")
        ).collect()
    )
    assert fast_sh == inline_sh


def test_star_overflow_keeps_distinct_flood_connected(spark):
    """ADVICE r3 (dedup.py:30): an over-cap bucket of DISTINCT (non-
    byte-identical) near-dup texts used to lose ALL pairs — the exact-dup
    pass can't rescue it because no two members share a fingerprint. The
    star overflow keeps the cluster one connected component at O(k) cost,
    and the hub–spoke edges survive exact verification (each spoke is a
    near-dup of the hub)."""
    from riptide_spark.operators.dedup import (
        connected_components,
        exact_duplicate_groups,
        minhash_candidate_pairs,
        simhash_near_pairs,
    )

    base = ("boilerplate navigation header footer copyright subscribe "
            "newsletter cookie consent privacy policy terms of service")
    # 30 distinct variants of one template: same body, unique trailing id.
    flood = [(i, f"{base} page token{i}") for i in range(30)]
    corpus = spark.createDataFrame(flood, "doc_id long, text string")

    # Not exact dups — the linear fingerprint pass finds no group.
    assert all(g["n_docs"] == 1 for g in exact_duplicate_groups(corpus).collect())

    pairs = minhash_candidate_pairs(corpus, bucket_size_cap=10)
    n_pairs = pairs.count()
    # Linear, not quadratic: at most (k-1) star edges per over-cap bucket
    # per band (4 bands) plus small-bucket pairs — far below the 435
    # uncapped pairs.
    assert 0 < n_pairs < 30 * 29 // 2
    comps = {r["component"] for r in connected_components(pairs).collect()}
    assert len(comps) == 1, f"flood split into {len(comps)} components"

    # Same guarantee on the SimHash path: identical-prefix variants sit
    # within Hamming 3, so hub–spoke pairs pass the exact verify.
    sh = simhash_near_pairs(corpus, bucket_size_cap=10)
    sh_comps = {r["component"] for r in connected_components(sh.select("id_a", "id_b")).collect()}
    assert len(sh_comps) == 1


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.01"), reason="sf0.01 testdata not present"
)
@pytest.mark.parametrize("planes", [1, 6, 8, 16])
def test_lsh_signature_matches_driver_twin_every_table(spark, planes):
    """The Spark signature reads plane components from one constant array
    below 256 dims and from the md5 expression past them; both must stay
    bit-identical to lsh_signature_py for every plane count and family."""
    from riptide_spark.operators.similarity import lsh_signature, lsh_signature_py

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    wide = spark.createDataFrame(
        [(-1, [((i * 37) % 101 - 50) / 50.0 for i in range(300)])],
        "vec_id long, embedding array<double>",
    )
    rows = emb.select("vec_id", "embedding").unionByName(wide).select(
        "vec_id",
        "embedding",
        *[
            lsh_signature(F.col("embedding").cast("array<double>"), planes, table=t)
            .alias(f"s{t}")
            for t in range(3)
        ],
    ).collect()
    assert len(rows) > 100 and any(len(r["embedding"]) == 300 for r in rows)
    for r in rows:
        for t in range(3):
            assert lsh_signature_py(r["embedding"], planes, table=t) == r[f"s{t}"], (
                r["vec_id"], t)


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The written IVF layout must be queryable through partition pruning:
    the scan's partition filters carry the ivf_list probes, and the
    results match the in-memory IVF path for the same parameters."""
    from riptide_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    centroids = write_ivf_index(emb, path, n_centroids=8)

    qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    indexed = ann_topk_ivf_index(spark, path, centroids, qvec, k=11, n_probe=2)

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_list" in plan.split("PartitionFilters", 1)[1][:200], plan[:800]

    got = [(r["vec_id"], r["cosine_sim"]) for r in indexed.collect() if r["vec_id"] != 0]
    mem = [
        (r["vec_id"], r["cosine_sim"])
        for r in ann_topk_ivf(emb, query_id=0, k=10, n_centroids=8, n_probe=2).collect()
    ]
    assert got[: len(mem)] == mem


def test_batch_ann_matches_single_query_paths(spark):
    """The batch ANN variants must reproduce the single-query operators
    for each query id (same candidates, same ranks) — one equi-join over
    the whole query set instead of a per-query driver loop."""
    from riptide_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_ivf_batch,
        ann_topk_lsh,
        ann_topk_lsh_batch,
        cosine_topk,
        cosine_topk_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id").isin([0, 100]))

    lsh_b = ann_topk_lsh_batch(emb, queries, k=5, planes=6, hamming=2).collect()
    for qid in (0, 100):
        single = [r["vec_id"] for r in
                  ann_topk_lsh(emb, query_id=qid, k=5, planes=6, hamming=2).collect()]
        batch = [r["vec_id"] for r in sorted(
            (r for r in lsh_b if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert batch == single, (qid, batch, single)

    ivf_b = ann_topk_ivf_batch(emb, queries, k=5, n_centroids=8, n_probe=2).collect()
    for qid in (0, 100):
        single = [r["vec_id"] for r in
                  ann_topk_ivf(emb, query_id=qid, k=5, n_centroids=8, n_probe=2).collect()]
        batch = [r["vec_id"] for r in sorted(
            (r for r in ivf_b if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert batch == single, (qid, batch, single)

    brute_b = cosine_topk_batch(emb, queries, k=5).collect()
    for qid in (0, 100):
        single = [r["vec_id"] for r in cosine_topk(emb, query_id=qid, k=5).collect()]
        batch = [r["vec_id"] for r in sorted(
            (r for r in brute_b if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert batch == single, (qid, batch, single)


def test_or_construction_lsh_improves_equal_budget_recall(spark):
    """The OR-construction (tables=L independent plane families) must beat
    the single-table multi-probe row at the SAME candidate budget: 3
    tables × Hamming-1 probes (21/64 buckets) vs 1 table × Hamming-2
    (22/64 buckets). Miss rate per true neighbour is (1-p)^L across
    independent families vs one draw of a wider radius — measured 0.56 vs
    0.42 mean recall@10 at sf0.01. The comparison runs on the sf0.01
    embeddings (the driver-gate corpus the docstring constants describe):
    everything is deterministic, and the sf0.001 micro-corpus's 5-query
    constant happens to land 0.58 vs 0.60 — too few brute pairs for the
    (1-p)^L asymptotics to show."""
    from pyspark.sql import functions as F

    from riptide_spark.operators.similarity import (
        ann_topk_lsh_batch,
        cosine_topk_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    k = 10
    brute = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_batch(emb, queries, k=k).collect()
    }

    def recall(approx_rows):
        hits = {(r["query_id"], r["vec_id"]) for r in approx_rows} & brute
        return len(hits) / len(brute)

    single = recall(
        ann_topk_lsh_batch(emb, queries, k=k, planes=6, hamming=2).collect()
    )
    multi = recall(
        ann_topk_lsh_batch(
            emb, queries, k=k, planes=6, hamming=1, tables=3
        ).collect()
    )
    assert multi > single, (multi, single)


def test_multiprobe_lsh_hamming_zero_is_single_bucket(spark):
    """hamming=0 recovers the round-2 single-bucket semantics."""
    from riptide_spark.operators.similarity import _probe_masks, ann_topk_lsh

    assert _probe_masks(6, 0) == [0]
    assert len(_probe_masks(6, 2)) == 1 + 6 + 15
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    single = ann_topk_lsh(emb, query_id=0, k=10, planes=6, hamming=0).collect()
    multi = ann_topk_lsh(emb, query_id=0, k=10, planes=6, hamming=2).collect()
    # Multi-probe candidates are a superset: top-1 cosine can only improve.
    if single and multi:
        assert multi[0]["cosine_sim"] >= single[0]["cosine_sim"]


def test_synth_dedup_corpus_invariants(spark):
    """The scale-dial corpus (sources/dedup_corpus.py) must have
    scale-invariant duplicate structure: class counts proportional to n,
    deterministic content, boilerplate families byte-identical."""
    from riptide_spark.sources.dedup_corpus import (
        BOILER_FAMILIES,
        synth_dedup_corpus,
    )

    n = 2000
    c = synth_dedup_corpus(spark, n)
    rows = c.count()
    # n base + n/20 near-dups + n/25 exact dups, minus boiler ids excluded
    # from the dup branches (ids %100==0 overlap both %20 and %25).
    assert rows == n + (n // 20 - n // 100) + (n // 25 - n // 100)

    # Determinism.
    a = sorted(tuple(r) for r in c.limit(50).collect())
    b = sorted(tuple(r) for r in synth_dedup_corpus(spark, n).limit(50).collect())
    assert a == b

    # Boilerplate families are byte-identical per family.
    from pyspark.sql import functions as F

    fams = (
        c.filter((F.col("doc_id") < n) & (F.pmod("doc_id", 100) == 0))
        .groupBy(F.pmod(F.col("doc_id") / 100, BOILER_FAMILIES).cast("int").alias("f"))
        .agg(F.countDistinct("text").alias("texts"), F.count("*").alias("members"))
        .collect()
    )
    assert len(fams) == BOILER_FAMILIES
    assert all(r["texts"] == 1 and r["members"] == n // 100 // BOILER_FAMILIES for r in fams)

    # Near-dups verify above the 0.8 threshold; exact dups at jaccard 1.
    from riptide_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(c).collect()}
    near = [(i, i + 10 * n) for i in range(0, n, 20) if i % 100 != 0]
    exact = [(i, i + 20 * n) for i in range(0, n, 25) if i % 100 != 0]
    for p in near:
        assert p in pairs and 0.8 <= pairs[p] < 1.0, p
    for p in exact:
        assert p in pairs and pairs[p] == 1.0, p


def test_lsh_index_partition_pruning(spark, tmp_path):
    """The written LSH layout must be queryable through partition pruning:
    the scan's partition filters carry the probe-bucket IN list, the
    driver-side signature is bit-identical to the Spark expression, and
    the results match the in-memory multi-probe path."""
    from riptide_spark.operators.similarity import (
        ann_topk_lsh,
        ann_topk_lsh_index,
        lsh_signature,
        lsh_signature_py,
        write_lsh_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "lsh_index")
    write_lsh_index(emb, path, planes=6)

    # Driver-side signature parity with the Spark expression, all rows.
    sigs_spark = {
        r["vec_id"]: r["s"]
        for r in emb.select(
            "vec_id",
            lsh_signature(F.col("embedding").cast("array<double>"), 6).alias("s"),
        ).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    for r in rows[:50]:
        assert lsh_signature_py(r["embedding"], 6) == sigs_spark[r["vec_id"]]

    qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    indexed = ann_topk_lsh_index(spark, path, qvec, k=11, planes=6, hamming=2)
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lsh_bucket" in plan.split("PartitionFilters", 1)[1][:300], plan[:800]

    got = [(r["vec_id"], r["cosine_sim"]) for r in indexed.collect() if r["vec_id"] != 0]
    mem = [
        (r["vec_id"], r["cosine_sim"])
        for r in ann_topk_lsh(emb, query_id=0, k=10, planes=6, hamming=2).collect()
    ]
    assert got[: len(mem)] == mem


def test_multi_table_lsh_index_prunes_per_table_stripes(spark, tmp_path):
    """The OR-construction index (partitionBy(lsh_table, lsh_bucket)) must
    answer through partition pruning — the probe predicate is an OR of
    per-table (lsh_table, lsh_bucket IN ...) conjunctions over partition
    columns only — and must return exactly the rows of the in-memory
    OR-construction batch path for the same query."""
    from pyspark.sql import functions as F

    from riptide_spark.operators.similarity import (
        ann_topk_lsh_batch,
        ann_topk_lsh_index,
        write_lsh_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "lsh_multi_index")
    tables, planes, hamming, k = 3, 6, 1, 10
    write_lsh_index(emb, path, planes=planes, tables=tables)

    # The layout is one directory stripe per (table, bucket).
    import os

    stripes = [d for d in os.listdir(path) if d.startswith("lsh_table=")]
    assert len(stripes) == tables, stripes

    qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    indexed = ann_topk_lsh_index(
        spark, path, qvec, k=k + 1, planes=planes, hamming=hamming, tables=tables
    )
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    import re

    clauses = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("lsh_table" in c and "lsh_bucket" in c for c in clauses), plan[:800]

    got = [
        (r["vec_id"], r["cosine_sim"])
        for r in indexed.collect()
        if r["vec_id"] != 0
    ][:k]
    mem = [
        (r["vec_id"], r["cosine_sim"])
        for r in ann_topk_lsh_batch(
            emb,
            emb.filter(F.col("vec_id") == 0),
            k=k + 1,
            planes=planes,
            hamming=hamming,
            tables=tables,
        )
        .orderBy("rank")
        .collect()
        if r["vec_id"] != 0
    ][:k]
    assert got == mem


def test_simhash_near_pairs_operator_matches_sql(spark, docs):
    """The banded SimHash near-pair operator must produce exactly the rows
    of the dialect-template SQL (and find every injected exact duplicate
    at hamming 0); completeness guard rejects under-banded configs."""
    from riptide_spark.operators.dedup import simhash_near_pairs

    corpus = docs.select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    api = simhash_near_pairs(corpus)
    sql = spark.sql(OQ.spark_sql("simhash_near_pairs"))
    assert _rows(api) == _rows(sql)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in api.collect()}
    for i in [r["doc_id"] for r in docs.filter(F.col("doc_id") % 20 == 0).collect()]:
        assert found.get((i, i + 100000)) == 0

    with pytest.raises(ValueError):
        simhash_near_pairs(corpus, max_hamming=4, bands=4)
    with pytest.raises(ValueError):
        simhash_near_pairs(corpus, bits=30, bands=4)
