"""Fused per-document enrichment: stats + langid + perplexity in ONE Arrow pass.

The pipeline's Python stages are all narrow maps over the same text column;
running them as separate pandas UDFs pays the JVM->Python Arrow round trip
(and per-batch dispatch) once PER STAGE — measured at sf0.1 x10 (50k docs,
local[32]): separate stats+lid = 4.15 s vs fused = ~2.5 s. This operator
computes everything in one iterator UDF:

    enrich(text) -> struct(stats: struct(...), lang, conf, ppl)

calling the SAME oracle functions row-wise (oracle/quality.py:doc_stats,
oracle/langid.py:NgramNBModel.detect, oracle/kneser_ney.py:KNModel.perplexity),
so fusing cannot change results — parity stays byte-identical (tests).

Models ride a single broadcast; the NB model's dense numpy form builds once
per Python worker and persists across Arrow batches (SURVEY.md §4.1), and so
do the two scoring memos: ``gram -> log2 p`` on each KN model
(oracle/kneser_ney.py) and ``token -> (row ids, hash)`` on the numpy fastText
model (operators/fasttext_np.py, loaded per worker and never shipped). Each
is cleared at a fixed entry count (``LOGPROB_MEMO_MAX``, ``TOKEN_MEMO_MAX``)
and never pickled, so the (NB, KN) broadcast carries the models' fields only,
even after driver-side scoring.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from language_identification_spark.operators.quality import STATS_SCHEMA
from language_identification_spark.oracle.quality import STAT_FIELDS, doc_stats

ENRICH_SCHEMA = StructType(
    [
        StructField("stats", STATS_SCHEMA),
        StructField("lang", StringType()),
        StructField("conf", DoubleType()),
        StructField("ppl", DoubleType()),
    ]
)


def enrich_udf(
    spark_or_sc,
    model,
    kn_models: dict | None = None,
    fasttext_model_path: str | None = None,
):
    """One fused UDF over the extracted text column. ``model`` is the NB
    langid model; ``kn_models`` an optional {lang: KNModel} for perplexity
    (null ppl when absent or when the predicted lang has no LM).

    ``fasttext_model_path``: when set, language ID comes from the fastText
    model at that path instead of the NB model — loaded LAZILY once per
    Python worker (the spark-submit --files pattern of the north_star: the
    path string is the only thing in the closure; the model object is never
    pickled or broadcast), scored by the native package when installed or
    the from-scratch numpy engine otherwise (operators/fasttext_np.py).
    The pass stays fused: still ONE ArrowEvalPython node."""
    sc = getattr(spark_or_sc, "sparkContext", spark_or_sc)
    bc = sc.broadcast((model, kn_models))

    @F.pandas_udf(ENRICH_SCHEMA)
    def _enrich(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        m, kns = bc.value
        ft = None
        if fasttext_model_path is not None:
            from language_identification_spark.operators.lid import (
                _load_fasttext,
                fasttext_top1,
            )

            ft = _load_fasttext(fasttext_model_path)
        for series in batches:
            texts = series.tolist()
            if ft is not None:
                lid = fasttext_top1(ft, texts)
            else:
                # langid vectorized: one numpy matrix pass per Arrow batch
                lid = m.detect_batch(texts)
            stats_rows = []
            ppls = []
            for text, (lang, _conf) in zip(texts, lid):
                stats_rows.append(doc_stats(text))
                kn = kns.get(lang) if (kns and lang is not None) else None
                if kn is None or not text:
                    ppls.append(None)
                else:
                    p = kn.perplexity(text)
                    ppls.append(None if math.isinf(p) else p)
            yield pd.DataFrame(
                {
                    "stats": stats_rows,
                    "lang": [r[0] for r in lid],
                    "conf": pd.Series([r[1] for r in lid], dtype="float64"),
                    "ppl": pd.Series(ppls, dtype="float64"),
                }
            )

    return _enrich


def with_enrichment(
    df,
    spark,
    model,
    kn_models=None,
    text_col="extracted_text",
    fasttext_model_path=None,
):
    """Attach stats/lid/ppl columns in the shape the rule engine expects."""
    enriched = df.withColumn(
        "_e",
        enrich_udf(spark, model, kn_models, fasttext_model_path)(
            F.col(text_col)
        ),
    )
    return (
        enriched.withColumn("stats", F.col("_e.stats"))
        .withColumn(
            "lid",
            F.struct(
                F.col("_e.lang").alias("lang"), F.col("_e.conf").alias("conf")
            ),
        )
        .withColumn("ppl", F.col("_e.ppl"))
        .drop("_e")
    )


__all__ = ["ENRICH_SCHEMA", "enrich_udf", "with_enrichment", "STAT_FIELDS"]
