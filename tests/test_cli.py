"""End-to-end CLI smoke: the spark-submit entry point run as a real
subprocess (its own JVM/session, exactly how `python -m` / spark-submit
drives it), including the resume-is-a-no-op contract."""

import json
import os
import subprocess
import sys

import pytest


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from language_identification_spark.fixtures import pages_df

    p = str(tmp_path_factory.mktemp("cli") / "pages")
    pages_df(spark, 60).write.mode("overwrite").parquet(p)
    return p


def _run_cli(args):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-m", "language_identification_spark", *args],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # last stdout line is the JSON summary
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_cli_end_to_end_and_resume(pages_parquet, tmp_path):
    out = str(tmp_path / "out")
    summary = _run_cli(
        [
            "--input", pages_parquet,
            "--output", out,
            "--buckets", "3",
            "--cores", "2",
            "--no-kn",
        ]
    )
    assert summary["buckets_done"] == [0, 1, 2]
    assert summary["rows"] == 60
    assert os.path.exists(os.path.join(out, "_progress.json"))
    assert os.path.isdir(os.path.join(out, "_metrics"))
    assert os.path.isdir(os.path.join(out, "_langdist"))

    # re-run with the same output: resume finds the complete manifest and
    # processes nothing new (rows counts total history, still 60)
    summary2 = _run_cli(
        [
            "--input", pages_parquet,
            "--output", out,
            "--buckets", "3",
            "--cores", "2",
            "--no-kn",
        ]
    )
    assert summary2["buckets_done"] == [0, 1, 2]
    assert summary2["rows"] == 60


def test_cli_fasttext_model_flag(spark, pages_parquet, tmp_path):
    """--fasttext-model: the lid stage scores with the given .ftz (compact
    production-shaped build) through the same fused pass; langdist ends up
    multi-language, proving the model actually ran in the subprocess's
    workers."""
    from language_identification_spark.fixtures import training_corpus
    from language_identification_spark.operators.fasttext_train import (
        build_production_ftz,
    )

    model_path = str(tmp_path / "mini_prod.ftz")
    build_production_ftz(
        model_path, training_corpus(), nwords=2_000, cutoff=4_000,
        bucket=50_000,
    )
    out = str(tmp_path / "out_ft")
    summary = _run_cli(
        [
            "--input", pages_parquet,
            "--output", out,
            "--buckets", "2",
            "--cores", "2",
            "--no-kn",
            "--fasttext-model", model_path,
        ]
    )
    assert summary["rows"] == 60
    langs = {
        r["lang_pred"]
        for r in spark.read.parquet(os.path.join(out, "_langdist")).collect()
    }
    assert len(langs) >= 5, langs


def test_spark_submit_py_files_launch(tmp_path):
    """North-rule launch path: the SAME CLI through spark-submit --py-files
    (package imported from the shipped zip, not the repo checkout)."""
    import json
    import shutil
    import subprocess

    if shutil.which("spark-submit") is None:
        import pytest

        pytest.skip("spark-submit not on PATH")
    script = os.path.join(os.path.dirname(__file__), "..", "tools", "spark_submit_demo.sh")
    proc = subprocess.run(
        ["bash", script, "local[4]", str(tmp_path)],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    manifest = json.loads((tmp_path / "out" / "_progress.json").read_text())
    assert manifest["buckets_done"] == [0, 1, 2, 3]
    assert sum(h["rows"] for h in manifest["run_history"]) == 120


def test_cli_query_runner():
    """`python -m language_identification_spark query <name>` runs any
    battery operator; `query list` enumerates them."""
    import __spark_entry__

    names = _run_cli(["query", "list"])
    assert set(names) == set(__spark_entry__.queries())

    summary = _run_cli(
        ["query", "token_count", "--sf-dir", "/root/testdata/sf0.001",
         "--limit", "3", "--cores", "2"]
    )
    assert summary["query"] == "token_count"
    assert summary["rows_shown"] == 3
    assert summary["columns"] == ["source", "n_tokens", "n_docs"]
