"""The benchmark's workloads, their output checks and their traced reductions.

Each workload drives the program only through its public functions and
has the same three steps: ``setup`` (inputs generated from the seed into a
fresh directory), ``rep`` (one timed unit of work) and ``check`` (output
checks, each counted as an operation). ``layers`` reduces a traced rep to
per-layer metrics.

There is no warm-up: the first rep of a run is timed, so it holds the
process's first extraction jobs or dedup cascade, as a batch job in a
fresh process does. JIT compilation is about 60 % of a first rep's CPU
and still 20-30 % of a fifth rep's; a warm-up that fits the run budget
would leave the timed rep on the steepest part of that curve, where how
much compilation falls inside the window varies from run to run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from riptide_spark.functions.gate import route
from riptide_spark.operators.dedup import (
    connected_components,
    exact_duplicate_groups,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from riptide_spark.operators.extract_udf import _extract_one, extraction_mode_for_route
from riptide_spark.operators.similarity import (
    ann_topk_ivf_batch,
    ann_topk_lsh_batch,
    train_ivf_centroids,
)
from riptide_spark.plans.curation import curation_verdicts
from riptide_spark.plans.pipeline import ExtractionJobConfig, run_extraction_job
from riptide_spark.schema import OUTPUT_COLUMNS
from riptide_spark.sources.catalog import TableIO
from riptide_spark.sources.dedup_corpus import BOILER_FAMILIES, synth_dedup_corpus
from riptide_spark.sources.pages import pages_dataframe, synth_page

from eventlog import (
    OUTPUT_BYTES, INPUT_BYTES, CPU_NS, PY_INIT_MS, PY_RETURNED_BYTES, PY_RUN_MS, PY_START_MS,
    PY_SENT_BYTES, SHUFFLE_WRITE_BYTES, Stage, union_s, within,
)

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Run:
    """State one benchmark run shares across workloads: the session, its
    scratch directory, the seed, the operation ledger and the spans."""

    spark: SparkSession
    work: str
    cores: int
    seed: int
    log: Callable[[str], None]
    attempted: int = 0
    failed: int = 0
    spans: dict[str, float] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.log(f"check failed: {what}")
        return ok

    @contextmanager
    def span(self, name: str):
        started = time.perf_counter()
        yield
        self.spans[name] = time.perf_counter() - started


def jvm_gc_s(spark: SparkSession) -> float:
    """Total GC time of the driver JVM (executors run inside it locally)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def plan_is_free_of_nested_loops(df: DataFrame) -> bool:
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------------
# extract_incremental
# --------------------------------------------------------------------------


@dataclass
class Job:
    batch: int
    written: int
    skipped: int  # the program's own RunResult.rows_skipped_resume
    start_s: float  # epoch, comparable with event-log times
    wall_s: float

    @property
    def end_s(self) -> float:
        return self.start_s + self.wall_s


@dataclass
class ExtractRep:
    table: str
    jobs: list[Job]

    @property
    def docs(self) -> int:
        return sum(j.written for j in self.jobs)

    @property
    def wall_s(self) -> float:
        return sum(j.wall_s for j in self.jobs)


class ExtractIncremental:
    """A growing crawl in K batches into one table, each job with
    ``resume=True``.

    The seed's ``synth_page`` corpus (default archetype mix) is cut into K
    slices of NEW urls; batch b presents slices 0..b, so every url already
    done comes back and resume must skip it. That is the program's resume
    contract, under which ``rows_skipped_resume`` is exact."""

    name = "extract_incremental"
    CORPUS_DOCS = 4500
    BATCHES = 3
    NEW = CORPUS_DOCS // BATCHES
    SAMPLE_ROWS = 12

    def __init__(self, run: Run):
        self.run = run
        self.slice_dirs: list[str] = []
        self.reps = 0

    def overlap(self, batch: int) -> int:
        """Urls of batch ``batch`` that earlier batches already wrote."""
        return self.NEW * batch

    def setup(self) -> None:
        """Generate the corpus once, written as one directory per slice."""
        run = self.run
        path = run.path("pages")
        index = F.regexp_extract("url", r"-(\d+)(?:\.pdf)?$", 1).cast("int")
        (
            pages_dataframe(run.spark, self.CORPUS_DOCS, seed=run.seed)
            .withColumn("slice", F.floor(index / self.NEW).cast("int"))
            .write.partitionBy("slice").parquet(path)
        )
        counts = dict(run.spark.read.parquet(path).groupBy("slice").count().collect())
        for b in range(self.BATCHES):
            run.check(counts.get(b) == self.NEW, f"slice {b} has {counts.get(b)} rows")
            self.slice_dirs.append(os.path.join(path, f"slice={b}"))

    def rep(self, batches: int | None = None) -> ExtractRep:
        run = self.run
        out = run.path(f"rep-{self.reps}")
        self.reps += 1
        config = ExtractionJobConfig(
            output_path=os.path.join(out, "table"),
            metrics_path=os.path.join(out, "metrics"),
            target_partitions=2 * run.cores,
            resume=True,
        )
        jobs = []
        for b in range(batches or self.BATCHES):
            pages = run.spark.read.parquet(*self.slice_dirs[:b + 1])
            start_s, started = time.time(), time.perf_counter()
            result = run_extraction_job(run.spark, pages, config)
            wall = time.perf_counter() - started
            run.attempted += 1
            jobs.append(Job(b, result.rows_written, result.rows_skipped_resume,
                            start_s, wall))
        run.log("job walls: " + " ".join(f"{j.wall_s:.2f}" for j in jobs))
        return ExtractRep(config.output_path, jobs)

    def check(self, rep: ExtractRep) -> None:
        run = self.run
        for j in rep.jobs:
            run.check(j.written == self.NEW,
                      f"batch {j.batch} wrote {j.written} rows, not its {self.NEW} new urls")
            run.check(j.skipped == self.overlap(j.batch),
                      f"batch {j.batch}: rows_skipped_resume is {j.skipped}, "
                      f"not the overlap {self.overlap(j.batch)}")
        table = TableIO(run.spark, rep.table).read()
        rows, urls, internal = table.agg(
            F.count(F.lit(1)),
            F.countDistinct("url"),
            F.sum(F.coalesce(F.col("error").startswith("internal:"), F.lit(False)).cast("int")),
        ).first()
        want = self.NEW * len(rep.jobs)
        run.check(rows == want, f"table has {rows} rows, not {want}")
        run.check(urls == rows, f"{rows - urls} duplicate urls")
        run.check((internal or 0) == 0, f"{internal} rows with an internal: error")
        self._check_sample(rep, table)

    def _check_sample(self, rep: ExtractRep, table: DataFrame) -> None:
        """Rows must equal extract_udf's own Python function, called outside
        Spark, on every field but extract_ms; content_mode must equal the
        gate's route."""
        run = self.run
        picks = sorted({(run.seed * 7919 + k * 389) % (self.NEW * len(rep.jobs))
                        for k in range(self.SAMPLE_ROWS)})
        pages = {p["url"]: p for p in (synth_page(i, run.seed) for i in picks)}
        got = {r["url"]: r.asDict(recursive=True)
               for r in table.filter(F.col("url").isin(list(pages))).collect()}
        routes = sorted({r["content_mode"] for r in got.values()})
        modes = dict(run.spark.createDataFrame([(r,) for r in routes], "route string")
                     .select("route", extraction_mode_for_route(F.col("route"))).collect())
        fields = [c for c in OUTPUT_COLUMNS if c not in ("url", "content_mode", "extract_ms")]
        for url, page in pages.items():
            row = got.get(url)
            if not run.check(row is not None, f"sample url {url} missing"):
                continue
            cm = row["content_mode"]
            run.check(cm == route(page["text"], url), f"{url}: content_mode {cm} != gate.route")
            want = _extract_one(page["html"], url, modes[cm])
            bad = [f for f in fields if row[f] != want[f]]
            run.check(not bad, f"{url}: fields differ from extract_udf's function: {bad}")

    def layers(self, rep: ExtractRep, stages: list[Stage]) -> dict[str, float]:
        """Per-layer numbers for one traced rep, from its stages and table."""
        run = self.run
        tot = dict.fromkeys(("gate_s", "gate_cpu_s", "gate_shuffle", "gate_input",
                             "start_s", "init_s", "run_s", "sent", "returned", "write_s",
                             "written_bytes", "antijoin_s", "readback_s", "gap_s"), 0.0)
        skew = []
        for j in rep.jobs:
            js = within(stages, j.start_s, j.end_s)
            py = [s for s in js if s.runs_python]
            if not run.check(len(py) == 1, f"batch {j.batch}: {len(py)} Python stages, not 1"):
                continue
            write = py[0]
            pre = [s for s in js if s.start_s < write.start_s]
            post = [s for s in js if s.start_s >= write.end_s]
            gate = [s for s in pre if s.get(SHUFFLE_WRITE_BYTES) > 0]
            anti = [s for s in pre if s not in gate]
            covered = union_s(js)
            gap = j.wall_s - covered
            run.log(f"job {j.batch}: wall {j.wall_s:.3f} = stages {covered:.3f} + driver gap "
                    f"{gap:.3f} | gate {union_s(gate):.3f} antijoin {union_s(anti):.3f} "
                    f"udf+write {write.wall_s:.3f} readback+sidecar {union_s(post):.3f}")
            tot["gate_s"] += union_s(gate)
            tot["gate_cpu_s"] += sum(s.get(CPU_NS) for s in gate) / 1e9
            tot["gate_shuffle"] += sum(s.get(SHUFFLE_WRITE_BYTES) for s in gate)
            tot["gate_input"] += sum(s.get(INPUT_BYTES) for s in gate)
            tot["start_s"] += write.get(PY_START_MS) / 1000.0
            tot["init_s"] += write.get(PY_INIT_MS) / 1000.0
            tot["run_s"] += write.get(PY_RUN_MS) / 1000.0
            tot["sent"] += write.get(PY_SENT_BYTES)
            tot["returned"] += write.get(PY_RETURNED_BYTES)
            tot["write_s"] += write.wall_s
            tot["written_bytes"] += write.get(OUTPUT_BYTES)
            tot["antijoin_s"] += union_s(anti)
            tot["readback_s"] += union_s(post)
            tot["gap_s"] += gap
            if write.task_s:
                skew.append(max(write.task_s) / max(statistics.median(write.task_s), 1e-3))
        docs = rep.docs
        walls = [j.wall_s for j in rep.jobs]
        table = TableIO(run.spark, rep.table)
        files = [len(m.files) for m in table.manifests() if m.committed and m.files is not None]
        out = {
            "gate_shuffle.stage_s": tot["gate_s"],
            "gate_shuffle.cpu_s": tot["gate_cpu_s"],
            "shuffle.write_bytes_per_doc": tot["gate_shuffle"] / docs,
            "shuffle.task_s_max_over_p50": statistics.median(skew) if skew else 0.0,
            "udf.worker_start_s": tot["start_s"],
            "udf.worker_init_s": tot["init_s"],
            "udf.worker_run_s": tot["run_s"],
            "udf.bytes_to_python_per_doc": tot["sent"] / docs,
            "udf.bytes_from_python_per_doc": tot["returned"] / docs,
            "catalog.write_stage_s": tot["write_s"],
            "catalog.bytes_per_input_byte": tot["written_bytes"] / max(tot["gate_input"], 1.0),
            "catalog.files_per_job": statistics.mean(files) if files else 0.0,
            "pipeline.job_s.median": statistics.median(walls),
            "pipeline.job_s.max": max(walls),
            "pipeline.resume_antijoin_s": tot["antijoin_s"],
            "pipeline.readback_s": tot["readback_s"],
            "pipeline.driver_gap_s": tot["gap_s"],
            "pipeline.resume_skipped": float(sum(j.skipped for j in rep.jobs)),
        }
        rows = table.read().select("content_mode", "extract_ms", "escalated").collect()
        for r in ("raw", "probes_first", "headless", "pdf"):
            ms = np.array([x[1] for x in rows if x[0] == r and x[1] is not None])
            out[f"udf.extract_ms.p50.{r}"] = float(np.percentile(ms, 50)) if ms.size else 0.0
            out[f"udf.extract_ms.p99.{r}"] = float(np.percentile(ms, 99)) if ms.size else 0.0
        probes = [x for x in rows if x[0] == "probes_first"]
        out["udf.escalation_rate"] = sum(bool(x[2]) for x in probes) / max(len(probes), 1)
        return out


# --------------------------------------------------------------------------
# dedup_cascade
# --------------------------------------------------------------------------


@dataclass
class DedupFrames:
    corpus: DataFrame
    rows: int
    emb: DataFrame
    queries: DataFrame
    centroids: np.ndarray


@dataclass
class DedupRep:
    docs: int
    wall_s: float
    results: dict = field(default_factory=dict)


class DedupCascade:
    """The dedup/similarity cascade of ``bench.py --scale-dial`` over
    ``synth_dedup_corpus``: exact fingerprint groups, MinHash + connected
    components, n-gram Jaccard pairs, SimHash pairs, curation verdicts, and
    batch LSH and IVF top-k over hash-derived embeddings.

    ``synth_dedup_corpus`` takes no seed, so its size is fixed and the seed
    salts the hash-derived embeddings. ``dedup_expected.json`` pins what the
    seed commit returns where the corpus has no closed form."""

    name = "dedup_cascade"
    DOCS = 2000
    DIM, QUERIES, K = 32, 64, 10

    def __init__(self, run: Run):
        self.run = run
        with open(os.path.join(HERE, "dedup_expected.json")) as fh:
            self.expected = json.load(fh)

    # Closed forms of the corpus construction (sources/dedup_corpus.py).
    def closed_form(self) -> dict[str, int]:
        n = self.DOCS
        boiler = (n + 99) // 100
        near = (n + 19) // 20 - boiler
        exact = (n + 24) // 25 - boiler
        families = [len(range(f, boiler, BOILER_FAMILIES)) for f in range(BOILER_FAMILIES)]
        grouped = [s for s in families if s > 1]
        vecs = self.vecs(n)
        queries = len(range(0, vecs, vecs // self.QUERIES))
        return {
            "rows": n + near + exact,
            "exact_groups": len(grouped) + exact,
            "exact_grouped_docs": sum(grouped) + 2 * exact,
            "exact_dup_verdicts": sum(grouped) - len(grouped) + exact,
            "ann_rows": queries * self.K,
        }

    @staticmethod
    def vecs(n: int) -> int:
        return max(n // 10, 100)

    def _frames(self, n: int) -> DedupFrames:
        spark, parts = self.run.spark, 2 * self.run.cores
        corpus = synth_dedup_corpus(spark, n, partitions=parts).localCheckpoint()
        n_vecs = self.vecs(n)
        salt = f"{self.run.seed}_"
        emb = (
            spark.range(0, n_vecs, 1, parts)
            .select(
                F.col("id").alias("vec_id"),
                F.array(*[
                    (F.pmod(F.hash(F.concat(F.lit(salt), F.col("id"), F.lit(f"_{j}"))), F.lit(2001))
                     - F.lit(1000)).cast("double") / F.lit(1000.0)
                    for j in range(self.DIM)
                ]).alias("embedding"),
            )
            .localCheckpoint()
        )
        return DedupFrames(
            corpus=corpus,
            rows=corpus.count(),
            emb=emb,
            queries=emb.filter(F.col("vec_id") % (n_vecs // self.QUERIES) == 0),
            centroids=train_ivf_centroids(emb, n_centroids=16),
        )

    def setup(self) -> None:
        self.frames = self._frames(self.DOCS)
        rows = self.frames.rows
        self.run.check(rows == self.closed_form()["rows"], f"dedup corpus has {rows} rows")

    def _ops(self, f: DedupFrames):
        c, e, q = f.corpus, f.emb, f.queries
        return [
            ("dedup.exact_s", lambda: exact_duplicate_groups(c),
             lambda df: tuple(df.agg(F.count(F.lit(1)), F.sum("n_docs")).first())),
            ("dedup.minhash_cc_s",
             lambda: connected_components(minhash_candidate_pairs(c, materialize=True)),
             lambda df: tuple(df.agg(F.count(F.lit(1)), F.countDistinct("component")).first())),
            ("dedup.ngram_s", lambda: ngram_jaccard_pairs(c), lambda df: df.count()),
            ("dedup.simhash_s", lambda: simhash_near_pairs(c, materialize=True),
             lambda df: df.count()),
            ("dedup.curation_s", lambda: curation_verdicts(c),
             lambda df: {r[0]: r[1] for r in df.groupBy("verdict").count().collect()}),
            ("similarity.ann_lsh_batch_s",
             lambda: ann_topk_lsh_batch(e, q, k=self.K, planes=8, hamming=2),
             lambda df: df.count()),
            ("similarity.ann_ivf_batch_s",
             lambda: ann_topk_ivf_batch(e, q, k=self.K, n_probe=8, centroids=f.centroids),
             lambda df: df.count()),
        ]

    def rep(self) -> DedupRep:
        run, f = self.run, self.frames
        rep = DedupRep(docs=f.rows, wall_s=0.0)
        built = []
        for name, build, action in self._ops(f):
            with run.span(name):
                df = build()
                rep.results[name] = action(df)
            run.attempted += 1
            rep.wall_s += run.spans[name]
            built.append((name, df))
        for name, df in built:
            run.check(plan_is_free_of_nested_loops(df),
                      f"{name}: CartesianProduct or BroadcastNestedLoopJoin in plan")
        return rep

    def check(self, rep: DedupRep) -> None:
        run, cf, exp, res = self.run, self.closed_form(), self.expected, rep.results
        run.check(res["dedup.exact_s"] == (cf["exact_groups"], cf["exact_grouped_docs"]),
                  f"exact groups {res['dedup.exact_s']} != closed form")
        verdicts = res["dedup.curation_s"]
        run.check(verdicts.get("exact_dup") == cf["exact_dup_verdicts"],
                  f"exact_dup verdicts {verdicts.get('exact_dup')} != closed form")
        for name in ("similarity.ann_lsh_batch_s", "similarity.ann_ivf_batch_s"):
            run.check(res[name] == cf["ann_rows"],
                      f"{name}: {res[name]} rows, not queries x k = {cf['ann_rows']}")
        for key, value in self.pinned(rep).items():
            run.check(value == exp[key], f"{key}: {value} != pinned {exp[key]}")

    def pinned(self, rep: DedupRep) -> dict:
        """The values ``check`` compares against, as this code computes them."""
        res = rep.results
        return {
            "cc": list(res["dedup.minhash_cc_s"]),
            "ngram_pairs": res["dedup.ngram_s"],
            "simhash_pairs": res["dedup.simhash_s"],
            "verdicts": res["dedup.curation_s"],
        }

    def layers(self, rep: DedupRep, stages: list[Stage], start_s: float,
               end_s: float) -> dict[str, float]:
        run = self.run
        out = {name: run.spans[name] for name, _, _ in self._ops(self.frames)}
        out["dedup.shuffle_bytes"] = sum(
            s.get(SHUFFLE_WRITE_BYTES) for s in within(stages, start_s, end_s))
        candidates = minhash_candidate_pairs(self.frames.corpus).count()
        out["dedup.ngram.verified_per_candidate"] = (
            rep.results["dedup.ngram_s"] / max(candidates, 1))
        return out


WORKLOADS = {w.name: w for w in (ExtractIncremental, DedupCascade)}
