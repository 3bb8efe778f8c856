"""spark-submit entry point (north rule: launched via spark-submit --py-files).

    spark-submit --py-files language_identification_spark.zip \
        -m language_identification_spark  # or: python -m language_identification_spark
        --input  /path/to/pages_parquet_or_iceberg \
        --output /path/to/results \
        --buckets 16 [--text-col text] [--max-ppl 1e9] [--no-kn]

Reads the pages table, trains the langid + KN models from the configured
corpus (or a provided labeled corpus parquet), runs the resumable bucketed
pipeline, and writes results + metrics + language distribution. Re-running
with the same --output resumes from the bucket manifest.
"""

from __future__ import annotations

import argparse
import json


def _query_main(argv: list[str]) -> None:
    """``python -m language_identification_spark query <name|list>`` — run
    any battery operator by name over a testdata dir: the 'a reference
    user can run every query they run today' surface, one command per
    SURVEY.md §2 entry."""
    p = argparse.ArgumentParser(prog="language_identification_spark query")
    p.add_argument("name", help="query name from the battery, or 'list'")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--cores", type=int)
    p.add_argument("--limit", type=int, default=20, help="rows to print")
    args = p.parse_args(argv)

    from language_identification_spark.registry import queries

    registry = queries()
    if args.name == "list":
        print(json.dumps(sorted(registry)))
        return
    if args.name not in registry:
        raise SystemExit(
            f"unknown query {args.name!r}; try 'list' ({len(registry)} available)"
        )
    from language_identification_spark.session import get_spark

    spark = get_spark(f"query-{args.name}", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    df = registry[args.name](spark, args.sf_dir)
    rows = df.limit(args.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(json.dumps({"query": args.name, "rows_shown": len(rows),
                      "columns": df.columns}))
    spark.stop()


def main(argv: list[str] | None = None) -> None:
    import sys

    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "query":
        return _query_main(argv[1:])
    p = argparse.ArgumentParser(prog="language_identification_spark")
    p.add_argument("--input", required=True, help="pages parquet path (url, warc_ts, html, text, lang) or iceberg table identifier (catalog.db.table)")
    p.add_argument("--snapshot-id", type=int, default=None, help="pin an iceberg --input to this snapshot (requires the iceberg runtime)")
    p.add_argument("--output", required=True, help="output dir (results buckets + manifest + metrics)")
    p.add_argument("--corpus", default=None, help="labeled corpus parquet (lang, text); default: built-in fixture corpus")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--text-col", default=None, help="use this already-extracted text column instead of decoding html")
    p.add_argument("--max-ppl", type=float, default=None, help="perplexity gate threshold")
    p.add_argument("--no-kn", action="store_true", help="skip KN perplexity scoring")
    p.add_argument("--cores", type=int, default=None, help="local[N] cores (omit under spark-submit on a cluster)")
    p.add_argument(
        "--fasttext-model",
        default=None,
        help="fastText .bin/.ftz path: lid scores with this model instead "
        "of the NB model (native lib or the numpy engine); shipped to "
        "executors via addFile / spark-submit --files",
    )
    args = p.parse_args(argv)

    from language_identification_spark.operators.lid import train_ngram_model_spark
    from language_identification_spark.operators.perplexity import train_kn_spark
    from language_identification_spark.oracle.quality import QualityConfig
    from language_identification_spark.plans.pipeline import (
        langdist_plan,
        metrics_plan,
        read_results,
        run_resumable,
    )
    from language_identification_spark.session import get_spark

    spark = get_spark("quality-filter", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    if args.corpus:
        corpus = spark.read.parquet(args.corpus).select("lang", "text")
    else:
        from language_identification_spark.fixtures import training_corpus

        corpus = spark.createDataFrame(
            training_corpus(), schema="lang string, text string"
        )
    model = train_ngram_model_spark(spark, corpus)
    kn = None if args.no_kn else train_kn_spark(corpus)

    config = QualityConfig() if args.max_ppl is None else QualityConfig(max_ppl=args.max_ppl)
    import os

    if args.snapshot_id is not None or (
        not os.path.exists(args.input) and "://" not in args.input
    ):
        # table identifier, not a path: the production Iceberg source
        # (snapshot-pinned so a multi-hour run is not torn by commits)
        from language_identification_spark.sources.iceberg import (
            read_pages_iceberg,
        )

        pages = read_pages_iceberg(
            spark, args.input, snapshot_id=args.snapshot_id
        )
    else:
        pages = spark.read.parquet(args.input)
    if args.fasttext_model and os.path.exists(args.fasttext_model):
        # ship to executors (no-op when already distributed via
        # spark-submit --files; workers resolve via SparkFiles fallback)
        spark.sparkContext.addFile(args.fasttext_model)
    manifest = run_resumable(
        spark,
        pages,
        model,
        args.output,
        buckets=args.buckets,
        config=config,
        text_col=args.text_col,
        kn_models=kn,
        fasttext_model_path=args.fasttext_model,
    )
    results = read_results(spark, args.output)
    metrics_plan(results).write.mode("overwrite").parquet(f"{args.output}/_metrics")
    langdist_plan(results).write.mode("overwrite").parquet(f"{args.output}/_langdist")
    print(json.dumps({
        "buckets_done": manifest["buckets_done"],
        "rows": sum(h["rows"] for h in manifest["run_history"]),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
