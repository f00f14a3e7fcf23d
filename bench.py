#!/usr/bin/env python3
"""Benchmark harness (driver contract: one JSON line on stdout).

Measures the headline workload — the full extraction pipeline (Arrow-vectorized
routing + extraction + url-bucketed write) over a deterministic
synthetic page corpus sized by SF — plus representative operator queries over
the driver testdata at ``$SPARK_GRAFT_SF_DIR``.

Modes:
    python bench.py                # one run on local[$SPARK_GRAFT_CPUS]
    python bench.py --scaling      # same job at local[1] and local[4], each
                                   # pinned to cores 0..N-1 → throughput at
                                   # both + scaling efficiency
    python bench.py --scale-dial   # the dedup/curation cascade + extraction
                                   # at sf0.1 (100k docs) AND sf1 (1M docs):
                                   # wall growth per query + plan gates
                                   # re-asserted at sf1 (VERDICT r2 #1).

Everything diagnostic goes to stderr; stdout carries exactly one JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

A plain run also splits the timed extraction job and the query suite into
their JIT layer: ``jit_compile_s`` is the driver JVM's
``CompilationMXBean.getTotalCompilationTime`` over each (the JVM hosts the
executors locally, so it is all the job's compiling), and ``cpu_s`` the
CPU seconds of the whole process tree (this driver, the JVM and its Python
workers) over each.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
# perfbench/procstat.py reads the process tree's CPU from /proc.
sys.path.append(os.path.join(REPO, "perfbench"))

SEED = 42
# sf0.1 → 100k pages (~4-9 KB each): big enough that per-task work dominates
# fixed job overhead, so the two-parallelism scaling measurement
# reflects the workload, not JVM constants.
PAGES_PER_SF = 1_000_000

BENCH_QUERIES = (
    "gate_features",
    "gate_route_counts",
    "dedup_exact",
    "minhash_candidate_pairs",
    "ngram_jaccard_pairs",
    "simhash_near_pairs",
    "events_windowed_counts",
    "dedup_connected_components",
    "corpus_curation",
    "quality_filter_verdicts",
    "stratified_sample",
    "langid_stopwords",
    "similarity_cosine_topk",
    "similarity_ann_multi_recall",
    "similarity_ann_ivf_indexed",
    "table_extraction",
    "pdf_extraction",
    "events_sessionization",
    "dim_broadcast_join",
    "topk_docs_per_lang",
)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


_CORPUS_V = 2  # bump when sources/pages.py changes page bodies (invalidates /tmp cache)


def corpus_path(n: int) -> str:
    return os.path.join(
        tempfile.gettempdir(), f"riptide_bench_pages_v{_CORPUS_V}_n{n}_s{SEED}"
    )


def ensure_corpus(spark, n: int) -> str:
    path = corpus_path(n)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        log(f"[bench] generating corpus n={n} → {path}")
        from riptide_spark.sources.pages import write_pages_parquet

        write_pages_parquet(spark, path, n, seed=SEED)
    return path


def jit_and_cpu_s(spark) -> tuple[float, float]:
    """(JIT compile seconds of the driver JVM, CPU seconds of this process
    tree) so far."""
    from procstat import tree_cpu_s

    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    compile_ms = mf.getCompilationMXBean().getTotalCompilationTime()
    return compile_ms / 1000.0, tree_cpu_s(os.getpid())


def run_bench(cpus: int, sf_dir: str) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    import __spark_entry__ as entrymod

    # Fail before spending the extraction leg if the bench list drifted out
    # of sync with queries() (a consolidation there broke the r4 bench).
    unknown = [n for n in BENCH_QUERIES if n not in entrymod.queries()]
    if unknown:
        raise KeyError(f"BENCH_QUERIES not in queries(): {unknown}")

    from riptide_spark.session import build_session

    spark = build_session("riptide-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    sf = sf_of(sf_dir)
    n_pages = max(int(PAGES_PER_SF * sf), 1000)

    pages_path = ensure_corpus(spark, n_pages)
    pages = spark.read.parquet(pages_path)

    # Headline: full extraction job (route + extract in one UDF → bucketed write).
    from riptide_spark.plans.pipeline import ExtractionJobConfig, run_extraction_job

    # Warm-up: spin up Python workers + codegen once (the analog of the
    # reference's WASM AOT warm cache — it measures warm throughput too).
    # Both jobs' tables are removed once timed; only the corpus is cached.
    with tempfile.TemporaryDirectory(prefix="riptide_bench_out_") as out_dir:
        run_extraction_job(
            spark,
            pages.limit(256),
            ExtractionJobConfig(output_path=os.path.join(out_dir, "warm"), resume=False),
        )
        log("[bench] warm-up done")

        config = ExtractionJobConfig(
            output_path=os.path.join(out_dir, "out"),
            metrics_path=os.path.join(out_dir, "metrics"),
            target_partitions=cpus * 2,
            resume=False,
        )
        jit0, cpu0 = jit_and_cpu_s(spark)
        start = time.perf_counter()
        result = run_extraction_job(spark, pages, config)
        extract_sec = time.perf_counter() - start
        jit1, cpu1 = jit_and_cpu_s(spark)
    docs_per_sec = result.rows_written / extract_sec
    log(
        f"[bench] extraction: {result.rows_written} docs in {extract_sec:.2f}s "
        f"→ {docs_per_sec:.0f} docs/s on local[{cpus}]; "
        f"JIT {jit1 - jit0:.1f}s, CPU {cpu1 - cpu0:.1f}s"
    )

    # Operator queries over the driver testdata.
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    timings: dict[str, float] = {"extract_pipeline": round(extract_sec, 3)}
    for name in BENCH_QUERIES:
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        rows = df.count()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        log(f"[bench] {name}: {rows} rows in {dt:.2f}s")
    jit2, cpu2 = jit_and_cpu_s(spark)
    log(f"[bench] query suite: JIT {jit2 - jit1:.1f}s, CPU {cpu2 - cpu1:.1f}s")

    total = round(sum(timings.values()), 3)
    spark.stop()
    return {
        "metric": "extraction+operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "docs": result.rows_written,
        "extract_sec": round(extract_sec, 3),
        "docs_per_sec": round(docs_per_sec, 1),
        "jit_compile_s": {
            "extract_pipeline": round(jit1 - jit0, 3),
            "suite": round(jit2 - jit1, 3),
        },
        "cpu_s": {
            "extract_pipeline": round(cpu1 - cpu0, 3),
            "suite": round(cpu2 - cpu1, 3),
        },
    }


def _assert_plan_gates(dfs) -> str:
    """No Cartesian / broadcast-nested-loop anywhere in the cascade plans —
    re-asserted at the actual benchmark scale, not just in unit tests."""
    for df in dfs:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if bad in plan:
                raise AssertionError(f"plan gate failed: {bad} in\n{plan[:2000]}")
    return "pass"


def run_scale_dial(cpus: int, sfs=(0.1, 1.0)) -> dict:
    """The 100 TB evidence run: the dedup/curation cascade and the full
    extraction job at sf0.1 (100k docs) and sf1 (1M docs) in one process —
    per-query wall growth should track the 10× input growth (log factors
    allowed), and the plan gates must hold at sf1.

    The dedup suite runs over ``sources/dedup_corpus.synth_dedup_corpus``
    (scale-invariant duplicate structure — see its module docstring for
    why a template-heavy web corpus cannot evidence linear scaling) sized
    to the same doc count as the extraction corpus; the sf1 run is also
    where the boilerplate families cross DEFAULT_BUCKET_CAP, exercising
    the flood guard at benchmark scale."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    from riptide_spark.session import build_session
    from riptide_spark.sources.dedup_corpus import synth_dedup_corpus

    per_sf: dict[str, dict] = {}
    for sf in sfs:
        spark = build_session(
            f"riptide-scale-sf{sf}", master=f"local[{cpus}]", shuffle_partitions=cpus
        )
        n_pages = max(int(PAGES_PER_SF * sf), 1000)
        pages_path = ensure_corpus(spark, n_pages)
        pages = spark.read.parquet(pages_path)

        from riptide_spark.operators.dedup import (
            connected_components,
            minhash_candidate_pairs,
            ngram_jaccard_pairs,
            simhash_near_pairs,
        )
        from riptide_spark.operators.similarity import (
            ann_topk_ivf_batch,
            ann_topk_lsh_batch,
            ivf_n_centroids,
            train_ivf_centroids,
        )
        from riptide_spark.plans.curation import curation_verdicts
        from riptide_spark.plans.pipeline import (
            ExtractionJobConfig,
            run_extraction_job,
        )

        timings: dict[str, float] = {}

        with tempfile.TemporaryDirectory(prefix="riptide_scale_out_") as out_dir:
            run_extraction_job(
                spark,
                pages.limit(256),
                ExtractionJobConfig(output_path=os.path.join(out_dir, "warm"), resume=False),
            )
            t0 = time.perf_counter()
            result = run_extraction_job(
                spark,
                pages,
                ExtractionJobConfig(
                    output_path=os.path.join(out_dir, "out"),
                    target_partitions=cpus * 2,
                    resume=False,
                ),
            )
            timings["extract_pipeline"] = round(time.perf_counter() - t0, 3)
        log(
            f"[scale sf{sf}] extract: {result.rows_written} docs in "
            f"{timings['extract_pipeline']}s"
        )

        from pyspark.sql import functions as F

        corpus = synth_dedup_corpus(spark, n_pages, partitions=cpus * 2).localCheckpoint()

        # Synthetic embeddings scaled with the corpus (vecs = docs/10,
        # 32 dims, hash-derived → deterministic, no data files) with a
        # FIXED 256-query batch, so the dial's growth axis is corpus
        # size, not queries × corpus (VERDICT r3 next-round #6).
        n_vecs = max(n_pages // 10, 1000)
        dim, n_queries = 32, 256
        emb = (
            spark.range(0, n_vecs, 1, cpus * 2)
            .select(
                F.col("id").alias("vec_id"),
                F.array(
                    *[
                        (
                            F.pmod(
                                F.hash(F.concat(F.col("id"), F.lit(f"_{j}"))),
                                F.lit(2001),
                            )
                            - F.lit(1000)
                        ).cast("double")
                        / F.lit(1000.0)
                        for j in range(dim)
                    ]
                ).alias("embedding"),
            )
            .localCheckpoint()
        )
        ann_queries = emb.filter(
            F.col("vec_id") % max(n_vecs // n_queries, 1) == 0
        )

        gates = _assert_plan_gates(
            [
                minhash_candidate_pairs(corpus),
                ngram_jaccard_pairs(corpus),
                simhash_near_pairs(corpus),
                curation_verdicts(corpus),
                ann_topk_lsh_batch(emb, ann_queries, k=10, planes=8, hamming=2),
                ann_topk_lsh_batch(
                    emb, ann_queries, k=10, planes=8, hamming=1, tables=3
                ),
            ]
        )

        t0 = time.perf_counter()
        n_pairs = ngram_jaccard_pairs(corpus).count()
        timings["ngram_jaccard_pairs"] = round(time.perf_counter() - t0, 3)
        log(f"[scale sf{sf}] ngram_jaccard_pairs: {n_pairs} pairs in {timings['ngram_jaccard_pairs']}s")

        t0 = time.perf_counter()
        n_nodes = connected_components(
            minhash_candidate_pairs(corpus, materialize=True)
        ).count()
        timings["dedup_connected_components"] = round(time.perf_counter() - t0, 3)
        log(f"[scale sf{sf}] connected_components: {n_nodes} nodes in {timings['dedup_connected_components']}s")

        t0 = time.perf_counter()
        counts = {
            r["verdict"]: r["count"]
            for r in curation_verdicts(corpus).groupBy("verdict").count().collect()
        }
        timings["corpus_curation"] = round(time.perf_counter() - t0, 3)
        log(f"[scale sf{sf}] corpus_curation: {counts} in {timings['corpus_curation']}s")

        t0 = time.perf_counter()
        n_sim = simhash_near_pairs(corpus, materialize=True).count()
        timings["simhash_near_pairs"] = round(time.perf_counter() - t0, 3)
        log(f"[scale sf{sf}] simhash_near_pairs: {n_sim} pairs in {timings['simhash_near_pairs']}s")

        t0 = time.perf_counter()
        n_ann = ann_topk_lsh_batch(
            emb, ann_queries, k=10, planes=8, hamming=2
        ).count()
        timings["similarity_ann_lsh_batch"] = round(time.perf_counter() - t0, 3)
        log(
            f"[scale sf{sf}] ann_lsh_batch: {n_ann} rows "
            f"({n_vecs} vecs, {ann_queries.count()} queries) in "
            f"{timings['similarity_ann_lsh_batch']}s"
        )

        # The OR-construction twin at a comparable candidate budget
        # (3 tables × Hamming-1 = 27/256 buckets vs 37/256 above): the
        # growth axis must stay ~linear even though both join sides
        # explode ×3 onto the composite (table, bucket) key.
        t0 = time.perf_counter()
        n_ann3 = ann_topk_lsh_batch(
            emb, ann_queries, k=10, planes=8, hamming=1, tables=3
        ).count()
        timings["similarity_ann_lsh_batch_tables3"] = round(
            time.perf_counter() - t0, 3
        )
        log(
            f"[scale sf{sf}] ann_lsh_batch_tables3: {n_ann3} rows in "
            f"{timings['similarity_ann_lsh_batch_tables3']}s"
        )

        # Batch IVF with √N centroids (128 at sf0.1, 256 at sf1 — both
        # force the executor-side Lloyd trainer: training set = 256
        # samples/centroid ≫ the 4096-row driver-collect cap). Timed in
        # two cells so quantizer training (one-off, amortized over every
        # query batch at production scale) and per-batch query cost are
        # graded separately.
        n_lists = ivf_n_centroids(n_vecs)
        t0 = time.perf_counter()
        ivf_centroids = train_ivf_centroids(emb, n_centroids=n_lists)
        timings["ivf_train_sqrtN"] = round(time.perf_counter() - t0, 3)
        log(
            f"[scale sf{sf}] ivf_train: {n_lists} centroids over {n_vecs} vecs "
            f"(executor path) in {timings['ivf_train_sqrtN']}s"
        )
        ivf_q = ann_topk_ivf_batch(
            emb, ann_queries, k=10, n_probe=8, centroids=ivf_centroids
        )
        gates = _assert_plan_gates([ivf_q]) and gates
        t0 = time.perf_counter()
        n_ivf = ivf_q.count()
        timings["similarity_ann_ivf_batch"] = round(time.perf_counter() - t0, 3)
        log(
            f"[scale sf{sf}] ann_ivf_batch: {n_ivf} rows "
            f"({n_lists} lists, 8 probes) in {timings['similarity_ann_ivf_batch']}s"
        )

        per_sf[str(sf)] = {
            "docs": result.rows_written,
            "dedup_corpus_rows": corpus.count(),
            "plan_gates": gates,
            "queries": timings,
            "curation_verdicts": counts,
        }
        spark.stop()

    lo, hi = (str(s) for s in sfs)
    growth = {
        q: round(per_sf[hi]["queries"][q] / max(per_sf[lo]["queries"][q], 1e-9), 2)
        for q in per_sf[lo]["queries"]
    }
    return {
        "metric": f"scale dial sf{lo}→sf{hi} wall growth (input ×{per_sf[hi]['docs'] / per_sf[lo]['docs']:.0f})",
        "value": round(max(growth.values()), 3),
        "unit": "ratio",
        "cpus": cpus,
        "per_sf": per_sf,
        "growth": growth,
    }


def run_scaling(sf_dir: str, low: int = 1, high: int = 4, reps: int = 2) -> dict:
    """Identical job, identical input, two "cluster sizes", fresh JVMs.

    Each level runs under ``taskset`` so JVM + Python workers share
    exactly N cores — a faithful emulation of an N-core cluster on one
    box: level N is pinned to cores ``0-{N-1}`` when ``taskset`` exists.
    Without pinning, a "local[1]" JVM spills its scan/shuffle/write
    threads onto the host's other cores and over-measures small-N
    throughput, understating scaling. Best-of-``reps`` per level
    suppresses CPU-steal noise."""
    pinned = os.path.exists("/usr/bin/taskset")
    results = {}
    for cpus in (low, high):
        best = None
        pin = ["taskset", "-c", f"0-{cpus - 1}"] if pinned else []
        for _ in range(reps):
            proc = subprocess.run(
                pin
                + [sys.executable, os.path.abspath(__file__), "--cpus", str(cpus), "--sf-dir", sf_dir],
                capture_output=True,
                text=True,
                timeout=3600,
            )
            sys.stderr.write(proc.stderr)
            line = proc.stdout.strip().splitlines()[-1]
            payload = json.loads(line)
            if best is None or payload["docs_per_sec"] > best["docs_per_sec"]:
                best = payload
        results[cpus] = best
    t_low = results[low]["docs_per_sec"]
    t_high = results[high]["docs_per_sec"]
    efficiency = (t_high / t_low) / (high / low)
    return {
        "metric": f"scaling efficiency local[{low}]→local[{high}]",
        "value": round(efficiency, 3),
        "unit": "ratio",
        "sf": results[low]["sf"],
        "docs_per_sec": {str(low): t_low, str(high): t_high},
        "queries": {
            f"extract_local{low}": results[low]["queries"]["extract_pipeline"],
            f"extract_local{high}": results[high]["queries"]["extract_pipeline"],
        },
    }


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    )
    parser.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    parser.add_argument("--scaling", action="store_true")
    parser.add_argument("--scale-low", type=int, default=1)
    parser.add_argument("--scale-high", type=int, default=4)
    parser.add_argument("--scale-dial", action="store_true")
    args = parser.parse_args()

    if args.scale_dial:
        payload = run_scale_dial(args.cpus)
    elif args.scaling:
        payload = run_scaling(args.sf_dir, args.scale_low, args.scale_high)
    else:
        payload = run_bench(args.cpus, args.sf_dir)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
