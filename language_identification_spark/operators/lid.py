"""Language-ID operators: Spark-native model training + broadcast scoring UDF.

Training (``train_ngram_model_spark``) is a pure DataFrame aggregation job —
the Spark realization of the reference's per-language Counter jobs
(char stats.ipynb cell 1; modified_kneser_ney.py:158-201; SURVEY.md §2.4
A1/A5): explode char n-grams, groupBy(lang, gram).count(), per-lang totals,
then driver-side smoothing math on the (small) count tables. At 100 TB the
heavy part (ngram counting) is distributed with map-side partial aggregation;
only the final per-language model table (≈ |langs| x |vocab| rows, MBs) ever
reaches the driver.

Scoring runs inside the fused enrich pass (operators/enrich.py): the NB
model is broadcast once and scored per Arrow batch. When a fastText model
file is available, the model is a per-executor lazy singleton instead (the
C++ object is never pickled/broadcast — SURVEY.md §7.3), and
``fasttext_top1`` is the one top-1 decode (fasttext_wrapper.py:39-45) that
the enrich pass and ``fasttext_lid_udf`` share.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from language_identification_spark.oracle.langid import NgramNBModel

LID_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("conf", DoubleType()),
    ]
)


@F.pandas_udf(ArrayType(StringType()))
def _doc_ngrams_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Casefolded padded char trigrams (NgramNBModel._doc_ngrams semantics).

    Python-side because str.casefold() differs from Spark lower() (F6,
    datatypes.py:595) — parity with the oracle trainer requires casefold.
    """
    for series in batches:
        yield series.map(
            lambda t: NgramNBModel._doc_ngrams(t, 3) if t is not None else []
        )


def train_ngram_model_spark(
    spark: SparkSession, corpus: DataFrame, n: int = 3, k: float = 0.5
) -> NgramNBModel:
    """Train the NB model with Spark aggregations on corpus(lang, text).

    Produces bit-identical logprobs to ``NgramNBModel.train`` on the same
    corpus (tested in tests/test_lid.py) — the fast-vs-reference oracle
    pattern of dictionary_langid/datatypes.py:337-341.
    """
    grams = corpus.select(
        "lang", F.explode(_doc_ngrams_udf(F.col("text"))).alias("gram")
    )
    # partial+final hash agg; shuffle key (lang, gram) is high-cardinality and
    # uniform -> no skew. This is the only shuffle in training.
    counts = grams.groupBy("lang", "gram").count()
    vocab_size = counts.select("gram").distinct().count()
    count_rows = counts.collect()  # |langs| x |vocab| — small by construction
    doc_counts = {
        r["lang"]: r["n"]
        for r in corpus.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }

    by_lang: dict[str, dict[str, int]] = {}
    for r in count_rows:
        by_lang.setdefault(r["lang"], {})[r["gram"]] = r["count"]
    v = vocab_size or 1
    total_docs = sum(doc_counts.values())
    logprobs, defaults, priors = {}, {}, {}
    for lang, ctr in sorted(by_lang.items()):
        total = sum(ctr.values())
        denom = total + k * v
        logprobs[lang] = {g: math.log((c + k) / denom) for g, c in sorted(ctr.items())}
        defaults[lang] = math.log(k / denom)
        priors[lang] = math.log(doc_counts[lang] / total_docs)
    return NgramNBModel(logprobs, defaults, priors, n=n)


# ---------------------------------------------------------------------------
# Real fastText path (gated): used automatically when the native package and a
# model file are present (e.g. shipped via spark-submit --files lid.176.ftz).
# ---------------------------------------------------------------------------
_FASTTEXT_SINGLETON = {}


def _load_fasttext(model_path: str):
    """Native package when installed; otherwise the from-scratch numpy
    engine (operators/fasttext_np.py) reads the same ``.bin``/``.ftz``
    formats — so the real model path is exercisable even without the C++
    lib. When the path does not exist on this worker, fall back to
    ``SparkFiles.get(basename)`` — the ``spark-submit --files lid.176.ftz``
    distribution path of the north rule (executors see the shipped copy
    under their own SparkFiles root, not the driver's path)."""
    if model_path not in _FASTTEXT_SINGLETON:
        path = model_path
        if not os.path.exists(path):
            try:
                from pyspark import SparkFiles

                cand = SparkFiles.get(os.path.basename(path))
                if os.path.exists(cand):
                    path = cand
            except Exception:  # noqa: BLE001 — fall through to the open error
                pass
        try:
            import fasttext  # native path (preferred when installed)

            _FASTTEXT_SINGLETON[model_path] = fasttext.load_model(path)
        except ImportError:
            from language_identification_spark.operators.fasttext_np import (
                NativeApiShim,
                load_model,
            )

            _FASTTEXT_SINGLETON[model_path] = NativeApiShim(load_model(path))
    return _FASTTEXT_SINGLETON[model_path]


def fasttext_available() -> bool:
    path = os.environ.get("FASTTEXT_MODEL_PATH")
    if not path:
        return False
    try:
        import fasttext  # noqa: F401

        return True
    except ImportError:
        # the numpy engine reads dense .bin and product-quantized .ftz
        # supervised models; probe the header so an unsupported file (e.g.
        # an unsupervised cc.*.300.bin) reports unavailable HERE instead of
        # throwing inside every executor task
        from language_identification_spark.operators.fasttext_np import (
            numpy_engine_supports,
        )

        return numpy_engine_supports(path)


def fasttext_top1(model, texts) -> list[tuple[str | None, float]]:
    """(lang, conf) per text for one batch, fasttext_wrapper.py:39-45
    semantics: newlines folded to spaces, predict k=1, the __label__ prefix
    stripped, conf 0.0 when no label comes back."""
    labels, probs = model.predict(
        [(t or "").replace("\n", " ") for t in texts], k=1
    )
    return [
        (l[0].removeprefix("__label__") if l else None, float(p[0]) if len(p) else 0.0)
        for l, p in zip(labels, probs)
    ]


def fasttext_lid_udf(model_path: str | None = None):
    """fastText batch scorer emitting struct(lang, conf) via fasttext_top1.
    Lazy per-executor model load; the path (a string) is the only thing
    captured in the closure.
    """
    path = model_path or os.environ["FASTTEXT_MODEL_PATH"]

    @F.pandas_udf(LID_SCHEMA)
    def _ft(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        model = _load_fasttext(path)
        for series in batches:
            lid = fasttext_top1(model, series)
            yield pd.DataFrame(
                {"lang": [r[0] for r in lid], "conf": [r[1] for r in lid]}
            )

    return _ft
