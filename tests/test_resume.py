"""Checkpoint/resume: the north rule's resumability requirement, end-to-end.

SURVEY.md §5.5: run the pipeline, kill it after bucket k, resume, and assert
the final table equals the single-run table exactly (the parquet-manifest
stand-in for Iceberg snapshot-checkpoint resume, SURVEY.md §4.2.4).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from language_identification_spark.fixtures import pages_df, training_corpus
from language_identification_spark.oracle.langid import NgramNBModel
from language_identification_spark.plans.pipeline import (
    quality_filter_plan,
    read_manifest,
    read_results,
    run_resumable,
)

N_PAGES = 160
BUCKETS = 6


@pytest.fixture(scope="module")
def model():
    return NgramNBModel.train(training_corpus())


def _rows_by_url(df):
    return {
        r["url"]: (r["keep"], tuple(r["drop_reasons"]), r["scrubbed_text"])
        for r in df.collect()
    }


def test_crash_resume_equals_single_run(spark, tmp_path, model):
    pages = pages_df(spark, N_PAGES)

    # single uninterrupted run -> ground truth
    truth = _rows_by_url(quality_filter_plan(pages, model))
    assert len(truth) == N_PAGES

    out = str(tmp_path / "out")
    # run 1: crash injected after bucket 2
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(
            spark, pages, model, out, buckets=BUCKETS, fail_after_bucket=2
        )
    m1 = read_manifest(out)
    assert m1["buckets_done"] == [0, 1, 2]
    done_after_crash = len(m1["run_history"])

    # run 2: resume — must process ONLY the missing buckets
    m2 = run_resumable(spark, pages, model, out, buckets=BUCKETS)
    assert m2["buckets_done"] == list(range(BUCKETS))
    resumed_hist = m2["run_history"][done_after_crash:]
    resumed = [h["bucket"] for h in resumed_hist]
    assert resumed == [3, 4, 5], "resume must not redo completed buckets"
    # round-4: all pending buckets commit in ONE partitioned write pass
    # (one input scan), never a per-bucket job loop — every resumed entry
    # carries the same pass id and the pass's single wall time
    assert len({h["pass"] for h in resumed_hist}) == 1
    assert len({h["seconds"] for h in resumed_hist}) == 1
    assert {h["pass"] for h in m1["run_history"]} != {
        h["pass"] for h in resumed_hist
    }

    # all rows present exactly once, values identical to the single run
    got = _rows_by_url(read_results(spark, out))
    assert got == truth

    # run 3: fully-complete manifest is a no-op
    m3 = run_resumable(spark, pages, model, out, buckets=BUCKETS)
    assert len(m3["run_history"]) == len(m2["run_history"])


def test_corrupt_manifest_raises_before_any_write(spark, tmp_path, model):
    """A manifest that does not parse is outside damage (the writer is
    atomic): the run must refuse it, not treat it as a fresh start and
    recompute every bucket."""
    out = tmp_path / "out"
    out.mkdir()
    (out / "_progress.json").write_text('{"buckets_done": [0, 1')
    with pytest.raises(ValueError, match="_progress.json"):
        run_resumable(spark, pages_df(spark, 8), model, str(out), buckets=BUCKETS)
    assert not [d for d in os.listdir(out) if d.startswith("bucket=")]


def test_manifest_lineage_counters(spark, tmp_path, model):
    """Per-bucket lineage (north rule: per-partition lineage + counters):
    rows and drop-rule histograms per bucket must sum to the global totals."""
    pages = pages_df(spark, N_PAGES)
    out = str(tmp_path / "out2")
    manifest = run_resumable(spark, pages, model, out, buckets=4)
    hist = manifest["run_history"]
    assert sum(h["rows"] for h in hist) == N_PAGES
    # drop counts in the manifest match a direct metrics query
    from language_identification_spark.plans.pipeline import metrics_plan

    direct = {
        r["rule"]: r["n"]
        for r in metrics_plan(read_results(spark, out)).collect()
        if r["rule"] is not None
    }
    summed: dict = {}
    for h in hist:
        for rule, n in h["drop_counts"].items():
            summed[rule] = summed.get(rule, 0) + n
    assert summed == direct
    # manifest file is valid JSON on disk (atomic write)
    with open(f"{out}/_progress.json") as f:
        assert json.load(f)["buckets_done"] == [0, 1, 2, 3]
    # lineage is ALSO a queryable parquet table (north rule: metrics tables)
    lineage = spark.read.parquet(f"{out}/_lineage")
    assert set(lineage.columns) == {"bucket", "rows", "rule", "n", "seconds"}
    per_rule = {
        r["rule"]: r["total"]
        for r in lineage.groupBy("rule").agg(F.sum("n").alias("total")).collect()
        if r["rule"] is not None
    }
    assert per_rule == direct


def test_one_pass_write_scans_input_once(spark, model):
    """The pending-buckets write plan must contain exactly ONE scan of the
    input — the structural evidence that run_resumable's partitioned write
    is one job over one pass of the data (the old per-bucket loop built B
    plans, each with its own full input scan)."""
    from language_identification_spark.plans.pipeline import (
        quality_filter_plan,
    )

    pages = pages_df(spark, 40)
    plan = quality_filter_plan(pages, model).withColumn(
        "bucket", F.pmod(F.crc32(F.col("url")), F.lit(4)).cast("int")
    )
    to_write = plan.filter(F.col("bucket").isin([1, 2, 3]))
    text = to_write._jdf.queryExecution().executedPlan().toString()
    scans = sum(
        1
        for ln in text.splitlines()
        if "LocalTableScan" in ln or "Scan " in ln
    )
    assert scans == 1, text
