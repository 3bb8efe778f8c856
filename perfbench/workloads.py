"""The benchmark's workloads.

Each workload is a closed loop: one client submits one job at a time, the
next only after the previous returned. Every job goes through the engine's
public functions, on inputs generated from the run's seed.

- ``crawl_html_resume``: the production CLI shape. ``run_resumable`` over a
  crawl-shaped pages table with the fastText ``.ftz`` (numpy engine) and KN
  perplexity on, crashed at half the buckets and resumed, then
  ``read_results`` + ``metrics_plan`` + ``langdist_plan`` written as
  ``__main__`` does. Extraction, perplexity, long-text scrub, the parquet
  write, lineage re-reads, resume and split skew all do real work here.
- ``dedup_battery``: the exact ``containment_join`` self-join over a
  documents table. Bound by JVM shuffle and job scheduling with no Python
  stage: it guards the battery against session-conf changes (AQE, shuffle
  partitions, Arrow batch rows) made for the flagship path, where the
  prediction is no change.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import inputs

CRAWL_PAGES = 480
CRAWL_BUCKETS = 8
CRAWL_CRASH_AFTER = CRAWL_BUCKETS // 2 - 1
CRAWL_MAX_PPL = 50.0  # the CLI's --max-ppl, so the perplexity rule can fire
SAMPLE_ROWS = 48
SAMPLE_STRIDE = 11
# the package sources build_production_ftz reads: trainer, .ftz format, corpus
FTZ_SOURCES = ["operators/fasttext_train.py", "operators/fasttext_np.py", "fixtures.py"]
BATTERY_DOCS = 1000
WARM_DOCS = 100
BATTERY_WARM_RUNS = 6
# minhash_prod_dedup_pipeline is left out: its DuckDB oracle alone takes
# 12-15 s at 100 docs (~190 s at 5000) and its first pass 20-50 s, more than
# a run can carry
BATTERY = ["containment_join"]
INSERT = "Execute InsertIntoHadoopFsRelationCommand"
LADDER = ["sources", "extract", "enrich", "rules", "scrub"]


@dataclass
class Ctx:
    spark: object
    cores: int
    work: str
    seed: int
    tracer: object
    stats: object | None  # SparkStats when tracing, else None
    sampler: object


@dataclass
class Phase:
    seconds: float
    first_exec: int | None
    group: str | None


@dataclass
class Job:
    index: int
    seconds: float = 0.0
    docs: int = 0
    error: str | None = None
    phases: dict[str, Phase] = field(default_factory=dict)
    out: dict = field(default_factory=dict)


@contextlib.contextmanager
def phase(ctx: Ctx, job: Job, name: str, span: str):
    """Time one step of a job; when tracing, also tag its Spark jobs with a
    group and note where its SQL executions start."""
    group = first = None
    if ctx.stats is not None:
        with ctx.tracer.instrument():
            group = f"job{job.index}.{name}"
            ctx.spark.sparkContext.setJobGroup(group, group)
            first = ctx.stats.next_execution_id()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(span):
            yield
    finally:
        job.phases[name] = Phase(time.perf_counter() - t0, first, group)


def noop(df) -> None:
    """Execute the whole plan and discard the rows (``count()`` would let the
    optimizer prune the UDF columns)."""
    df.write.format("noop").mode("overwrite").save()


def us_per_doc(fn, items: list) -> float:
    """Microseconds per item of ``fn`` over ``items``, best of three passes."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        fn(items)
        best = min(best, time.perf_counter() - t0)
    return 1e6 * best / len(items)


def medians(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


class Workload:
    name = ""

    def prepare(self, ctx: Ctx) -> None:
        """Generate the inputs (outside every timed region)."""

    def train(self) -> dict:
        return {}

    def warm(self, ctx: Ctx, models: dict) -> None:
        """Boot the Python workers and load the models into them."""

    def job(self, ctx: Ctx, models: dict, index: int) -> Job:
        raise NotImplementedError

    def check(self, ctx: Ctx, models: dict, jobs: list[Job]) -> None:
        """Check each job's output; a mismatch sets the job's ``error``."""

    def ledger(self, ctx: Ctx, models: dict, jobs: list[Job]) -> dict[str, float]:
        return {}


class CrawlHtmlResume(Workload):
    name = "crawl_html_resume"

    def prepare(self, ctx: Ctx) -> None:
        import language_identification_spark
        from language_identification_spark.fixtures import training_corpus
        from language_identification_spark.operators.fasttext_train import (
            build_production_ftz,
        )

        self.pages_dir = os.path.join(ctx.work, "pages")
        self.rows = inputs.write_pages(self.pages_dir, CRAWL_PAGES, ctx.seed)
        # the .ftz stands in for a downloaded artifact: seed-independent, so
        # it is built once and reused, keyed by the sources that produce it
        # so that a change to the trainer, the format or the corpus rebuilds it
        package = os.path.dirname(language_identification_spark.__file__)
        digest = hashlib.sha256()
        for name in FTZ_SOURCES:
            with open(os.path.join(package, name), "rb") as f:
                digest.update(f.read())
        cache = os.path.join(os.path.dirname(ctx.work), "cache")
        self.ftz = os.path.join(cache, f"lid-{digest.hexdigest()[:16]}.ftz")
        if not os.path.exists(self.ftz):
            os.makedirs(os.path.dirname(self.ftz), exist_ok=True)
            tmp = self.ftz + f".{os.getpid()}.tmp"
            build_production_ftz(tmp, training_corpus())
            os.replace(tmp, self.ftz)
        # every SAMPLE_STRIDE-th row, wrapping around: the stride is coprime
        # with the generator's row periods (5, 7) and with CRAWL_PAGES, so the
        # sample holds clean and adversarial rows of every host in their
        # table-wide shares
        self.sample = [self.rows[i * SAMPLE_STRIDE % CRAWL_PAGES] for i in range(SAMPLE_ROWS)]

    def config(self):
        from language_identification_spark.oracle.quality import QualityConfig

        return QualityConfig(max_ppl=CRAWL_MAX_PPL)

    def train(self) -> dict:
        from language_identification_spark.fixtures import training_corpus
        from language_identification_spark.oracle.kneser_ney import train_kn_per_lang
        from language_identification_spark.oracle.langid import NgramNBModel

        corpus = training_corpus()
        return {"nb": NgramNBModel.train(corpus), "kn": train_kn_per_lang(corpus)}

    def enrich_args(self, models: dict) -> dict:
        return {"kn_models": models["kn"], "fasttext_model_path": self.ftz}

    def scan(self, ctx: Ctx):
        from language_identification_spark.sources.io import read_pages

        return read_pages(ctx.spark, self.pages_dir)

    def plan(self, ctx: Ctx, models: dict, pages):
        from language_identification_spark.plans.pipeline import quality_filter_plan

        return quality_filter_plan(
            pages, models["nb"], config=self.config(), **self.enrich_args(models)
        )

    def warm(self, ctx: Ctx, models: dict) -> None:
        # a few rows per core: every Python worker boots and loads the models
        sample = self.scan(ctx).limit(8 * ctx.cores).repartition(ctx.cores)
        noop(self.plan(ctx, models, sample))

    def job(self, ctx: Ctx, models: dict, index: int) -> Job:
        from language_identification_spark.plans.pipeline import (
            langdist_plan,
            metrics_plan,
            read_manifest,
            read_results,
            run_resumable,
        )

        job = Job(index, docs=CRAWL_PAGES)
        out = os.path.join(ctx.work, f"out{index}")
        common = dict(buckets=CRAWL_BUCKETS, config=self.config(), **self.enrich_args(models))
        t0 = time.perf_counter()
        with ctx.tracer.span("sources.read_pages"):
            pages = self.scan(ctx)
        try:
            with phase(ctx, job, "crash", "pipeline.run_resumable"):
                run_resumable(
                    ctx.spark, pages, models["nb"], out,
                    fail_after_bucket=CRAWL_CRASH_AFTER, **common,
                )
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            job.error = "the crash pass did not crash"
        job.out["after_crash"] = read_manifest(out)["buckets_done"]
        with phase(ctx, job, "resume", "pipeline.run_resumable"):
            manifest = run_resumable(ctx.spark, pages, models["nb"], out, **common)
        with phase(ctx, job, "report", "pipeline.report"):
            results = read_results(ctx.spark, out)
            metrics_plan(results).write.mode("overwrite").parquet(f"{out}/_metrics")
            langdist_plan(results).write.mode("overwrite").parquet(f"{out}/_langdist")
        job.seconds = time.perf_counter() - t0
        job.out["dir"] = out
        job.out["after_resume"] = manifest["buckets_done"]
        job.out["manifest_rows"] = sum(h["rows"] for h in manifest["run_history"])
        return job

    def _lid(self, texts: list) -> list[tuple[str | None, float]]:
        """fastText lid as the enrich stage calls it (fasttext_wrapper
        semantics: k=1, ``__label__`` stripped, newlines folded)."""
        from language_identification_spark.operators.lid import _load_fasttext

        labels, probs = _load_fasttext(self.ftz).predict(
            [(t or "").replace("\n", " ") for t in texts], k=1
        )
        return [
            (l[0].removeprefix("__label__") if l else None, float(p[0]) if len(p) else 0.0)
            for l, p in zip(labels, probs)
        ]

    def _oracle_rows(self, models: dict) -> dict[str, tuple]:
        """The row-wise oracle chain on the url sample."""
        from language_identification_spark.oracle.extract import extract_text
        from language_identification_spark.oracle.quality import apply_rules, doc_stats
        from language_identification_spark.oracle.scrub import scrub_text

        out = {}
        for row in self.sample:
            text = extract_text(row["html"])
            [(lang, conf)] = self._lid([text])
            kn = models["kn"].get(lang) if lang is not None else None
            ppl = None
            if kn is not None and text:
                p = kn.perplexity(text)
                ppl = None if math.isinf(p) else p
            reasons = apply_rules(
                doc_stats(text), self.config(), lang_conf=conf, ppl=ppl,
                empty=text is None, lang=lang,
            )
            out[row["url"]] = (text, not reasons, reasons, scrub_text(text))
        return out

    def check(self, ctx: Ctx, models: dict, jobs: list[Job]) -> None:
        """Exactly-once output after crash + resume, and the url sample equal
        to the row-wise oracle chain (extracted text byte for byte). The
        committed files are read with pyarrow, outside Spark, which skips
        the ``_``-prefixed lineage, report and manifest entries."""
        import pyarrow.dataset as ds

        want = self._oracle_rows(models)
        for job in jobs:
            problems = []
            if job.out["after_crash"] != list(range(CRAWL_CRASH_AFTER + 1)):
                problems.append(f"crash committed {job.out['after_crash']}")
            if job.out["after_resume"] != list(range(CRAWL_BUCKETS)):
                problems.append(f"resume committed {job.out['after_resume']}")
            rows = (
                ds.dataset(job.out["dir"], format="parquet", partitioning="hive")
                .to_table(columns=["url", "extracted_text", "keep", "drop_reasons", "scrubbed_text"])
                .to_pylist()
            )
            n, n_urls = len(rows), len({r["url"] for r in rows})
            if not n == n_urls == CRAWL_PAGES == job.out["manifest_rows"]:
                problems.append(f"rows {n}, urls {n_urls}, manifest {job.out['manifest_rows']}")
            got = {
                r["url"]: (r["extracted_text"], r["keep"], r["drop_reasons"], r["scrubbed_text"])
                for r in rows
                if r["url"] in want
            }
            bad = [u for u in want if got.get(u) != want[u]]
            if bad:
                problems.append(f"{len(bad)} sample rows differ from the oracle, e.g. {bad[0]}")
            if problems:
                job.error = "; ".join(problems)

    def cut(self, ctx: Ctx, models: dict, layer: str):
        """The plan up to and including ``layer``, declared by calling each
        layer's public function afresh (so every cut pays its own model
        broadcast, as the full plan does)."""
        from language_identification_spark.operators.enrich import with_enrichment
        from language_identification_spark.operators.extract import extract_text_udf
        from language_identification_spark.operators.quality import with_keep_decision
        from language_identification_spark.operators.scrub import scrub_expr

        steps = {
            "extract": lambda df: df.withColumn(
                "extracted_text", extract_text_udf(F.col("html"))
            ),
            "enrich": lambda df: with_enrichment(
                df, ctx.spark, models["nb"], **self.enrich_args(models)
            ),
            "rules": lambda df: with_keep_decision(df, self.config(), ppl_col="ppl"),
            "scrub": lambda df: df.withColumn(
                "scrubbed_text", scrub_expr(F.col("extracted_text"))
            ),
        }
        df = self.scan(ctx)
        for step in LADDER[1 : LADDER.index(layer) + 1]:
            df = steps[step](df)
        return df

    def ladder(self, ctx: Ctx, models: dict) -> dict[str, float]:
        """Cumulative noop cuts: a layer's stage time is the difference
        between its cut and the one before. The whole plan, declared by one
        ``quality_filter_plan`` call and run after them, is what the final
        cut must reconcile with."""
        walls: dict[str, float] = {}
        cpus: dict[str, float] = {}
        for layer in LADDER:
            df = self.cut(ctx, models, layer)
            c0, t0 = ctx.sampler.cpu_seconds(), time.perf_counter()
            with ctx.tracer.span(f"ladder.{layer}"):
                noop(df)
            walls[layer] = time.perf_counter() - t0
            cpus[layer] = ctx.sampler.cpu_seconds() - c0
        df = self.plan(ctx, models, self.scan(ctx))
        t0 = time.perf_counter()
        with ctx.tracer.span("ladder.full"):
            noop(df)
        full_s = time.perf_counter() - t0
        out: dict[str, float] = {}
        prev_wall = prev_cpu = 0.0
        for layer in LADDER:
            key = "scan_s" if layer == "sources" else "stage_s"
            out[f"{layer}.{key}"] = walls[layer] - prev_wall
            out[f"{layer}.stage_core_s"] = cpus[layer] - prev_cpu
            prev_wall, prev_cpu = walls[layer], cpus[layer]
        out["pipeline.full_noop_s"] = full_s
        out["pipeline.ladder_gap"] = prev_wall / full_s - 1.0
        return out

    def kernels(self, models: dict) -> dict[str, float]:
        """In-process cost of each per-document kernel on the url sample."""
        from language_identification_spark.oracle.extract import extract_text
        from language_identification_spark.oracle.quality import doc_stats

        htmls = [r["html"] for r in self.sample]
        texts = [extract_text(h) for h in htmls]
        kn = models["kn"]
        scored = [(kn[l], t) for (l, _), t in zip(self._lid(texts), texts) if t and l in kn]
        return {
            "extract.us_per_doc": us_per_doc(lambda xs: [extract_text(h) for h in xs], htmls),
            "enrich.stats_us_per_doc": us_per_doc(lambda xs: [doc_stats(t) for t in xs], texts),
            "enrich.langid_us_per_doc": us_per_doc(self._lid, texts),
            # per row of the workload: rows without text or model cost nothing
            "enrich.ppl_us_per_doc": us_per_doc(
                lambda xs: [m.perplexity(t) for m, t in xs], scored
            ) * len(scored) / len(texts),
        }

    def ledger(self, ctx: Ctx, models: dict, jobs: list[Job]) -> dict[str, float]:
        out = medians([self.job_ledger(ctx, job) for job in jobs])
        out.update(self.ladder(ctx, models))
        out.update(self.kernels(models))
        # the share of the enrich stage's core-seconds not spent inside the
        # per-document kernels: Arrow conversion, dispatch, model broadcast
        kernel_s = CRAWL_PAGES * 1e-6 * (
            out["enrich.stats_us_per_doc"]
            + out["enrich.langid_us_per_doc"]
            + out["enrich.ppl_us_per_doc"]
        )
        stage = out["enrich.stage_core_s"]
        out["enrich.boundary_share"] = 1.0 - kernel_s / stage if stage > 0 else 0.0
        return out

    def job_ledger(self, ctx: Ctx, job: Job) -> dict[str, float]:
        """One job's Python-boundary, write, lineage and task counters from
        the SQL status store and the status tracker."""
        stats = ctx.stats
        crash, resume, report = (job.phases[p] for p in ("crash", "resume", "report"))
        execs = stats.executions(crash.first_exec, report.first_exec, ("ArrowEvalPython", INSERT))
        out: dict[str, float] = {}
        for layer, udf in (("extract", "extract_text_udf"), ("enrich", "_enrich")):
            nodes = [n for e in execs for n in e.nodes_named("ArrowEvalPython", udf)]
            for key, metric in (
                ("py_run_s", "time to run Python workers"),
                ("py_boot_s", "time to start Python workers"),
                ("bytes_to_py", "data sent to Python workers"),
                ("bytes_from_py", "data returned from Python workers"),
            ):
                out[f"{layer}.{key}"] = sum(n.values.get(metric, 0.0) for n in nodes)
            if layer == "extract":
                udf_rows = sum(n.values.get("number of output rows", 0.0) for n in nodes)
        writes = [
            e for e in execs if any("_lineage" not in n.desc for n in e.nodes_named(INSERT))
        ]
        out["pipeline.crash_s"] = crash.seconds
        out["pipeline.resume_s"] = resume.seconds
        out["pipeline.write_s"] = sum(e.seconds for e in writes)
        out["pipeline.lineage_s"] = crash.seconds + resume.seconds - out["pipeline.write_s"]
        out["pipeline.report_s"] = report.seconds
        out["pipeline.jobs_per_pass"] = (
            stats.job_count(crash.group) + stats.job_count(resume.group)
        ) / 2
        out["pipeline.bytes_written"] = sum(e.total("written output", INSERT) for e in writes)
        out["pipeline.files_written"] = sum(
            e.total("number of written files", INSERT) for e in writes
        )
        out["pipeline.task_skew"] = max(
            (stats.task_skew(e.jobs) for e in writes), default=0.0
        )
        out["pipeline.udf_rows_per_committed_row"] = udf_rows / CRAWL_PAGES
        return out


class DedupBattery(Workload):
    name = "dedup_battery"

    def prepare(self, ctx: Ctx) -> None:
        self.docs_dir = os.path.join(ctx.work, "docs")
        inputs.write_documents(self.docs_dir, inputs.build_documents(BATTERY_DOCS, ctx.seed))
        self.warm_dir = os.path.join(ctx.work, "warm_docs")
        inputs.write_documents(self.warm_dir, inputs.build_documents(WARM_DOCS, ctx.seed))

    def warm(self, ctx: Ctx, models: dict) -> None:
        # no Python workers to boot: the queries run several times on a small
        # table, so that code generation and the JIT are mostly done before
        # timing starts. After a single run, each of the next ten or so jobs
        # still ran faster than the one before
        import __spark_entry__ as entry

        for _ in range(BATTERY_WARM_RUNS):
            for name in BATTERY:
                entry.queries()[name](ctx.spark, self.warm_dir).toPandas()

    def job(self, ctx: Ctx, models: dict, index: int) -> Job:
        """Each query's full result is collected (about a thousand rows), so
        the timed run is also the one whose hash is checked."""
        import __spark_entry__ as entry
        from tools.check_correctness import frame_hash

        queries = entry.queries()
        job = Job(index, docs=BATTERY_DOCS)
        for name in BATTERY:
            with phase(ctx, job, name, f"queries.{name}"):
                pdf = queries[name](ctx.spark, self.docs_dir).toPandas()
            job.out[name] = frame_hash(pdf)[0]
        job.seconds = sum(p.seconds for p in job.phases.values())
        return job

    def check(self, ctx: Ctx, models: dict, jobs: list[Job]) -> None:
        """Each query's result hash against its ``oracle_sql()`` on DuckDB."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_correctness import frame_hash

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{self.docs_dir}/documents.parquet')"
            )
            expected = {name: frame_hash(con.execute(sql[name]).df())[0] for name in BATTERY}
        finally:
            con.close()
        for job in jobs:
            bad = [n for n in BATTERY if job.out[n] != expected[n]]
            if bad:
                job.error = f"result hash differs from the oracle: {bad}"

    def ledger(self, ctx: Ctx, models: dict, jobs: list[Job]) -> dict[str, float]:
        # a query's executions end where the next query, of any job, starts
        starts = sorted(p.first_exec for job in jobs for p in job.phases.values())
        rows = []
        for job in jobs:
            row = {"queries.battery_s": job.seconds, "queries.jobs": 0.0, "queries.shuffle_bytes": 0.0}
            for name in BATTERY:
                p = job.phases[name]
                end = next((s for s in starts if s > p.first_exec), None)
                execs = ctx.stats.executions(p.first_exec, end, ("Exchange",))
                row[f"queries.{name}_s"] = p.seconds
                row["queries.jobs"] += ctx.stats.job_count(p.group)
                row["queries.shuffle_bytes"] += sum(
                    e.total("shuffle bytes written", "Exchange") for e in execs
                )
            rows.append(row)
        return medians(rows)


WORKLOADS = {w.name: w for w in (CrawlHtmlResume, DedupBattery)}
