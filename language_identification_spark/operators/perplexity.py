"""Distributed Kneser-Ney LM training + broadcast perplexity scoring.

Training is the Spark realization of SURVEY.md §2.4 A5-A8 (the reference's
modified_kneser_ney.py:158-201 count jobs, :644-664 continuation counts,
:684-727 normalization):

    corpus(lang, text)
      -> padded char n-grams (Arrow UDF)          # casefold: Python semantics
      -> groupBy(lang, gram).count()              # THE data-sized shuffle
      -> suffix rollups per lower order           # groupBy over the (small)
                                                  # distinct-gram table
      -> collect tiny integer tables -> assemble_model (shared float math)

Only the top-order counting touches corpus-sized data; everything below it
aggregates the distinct-gram table (|alphabet|^order bounded — KBs for char
LMs even at 100 TB corpus scale, because the gram space saturates). The float
assembly is oracle/kneser_ney.py:assemble_model on both paths, so the Spark
trainer is bit-identical to the in-memory trainer (tested).

Scoring broadcasts {lang: KNModel} (plain dicts, ~100s of KB) and runs an
Iterator-of-Series pandas UDF; documents whose language has no model score
null, which no rule fires on (null-safe comparison) — mirroring the oracle's
ppl=None path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StringType

from language_identification_spark.oracle.kneser_ney import (
    KNModel,
    assemble_model,
    padded_chars,
)

from language_identification_spark.oracle.tokenize import PY_WHITESPACE

# PY_WHITESPACE as a Java-regex class (raw chars are legal inside [...]);
# the shared tokenization contract with the Python-side encoder/scorer and
# the DuckDB oracle (oracle/kn_sql.py) lives in oracle/tokenize.py
PY_WS_SPLIT_RE = "[" + PY_WHITESPACE + "]+"


def _top_grams_udf(order: int):
    @F.pandas_udf(ArrayType(StringType()))
    def _grams(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        def grams(text: str | None) -> list[str]:
            if text is None:
                return []
            chars = padded_chars(text, order)
            return [chars[i : i + order] for i in range(len(chars) - order + 1)]

        for series in batches:
            yield series.map(grams)

    return _grams


def train_kn_spark(
    corpus: DataFrame, order: int = 3, lang_col: str = "lang", text_col: str = "text"
) -> dict[str, KNModel]:
    """Per-language modified-KN models from corpus(lang, text) via Spark aggs.

    Returns {lang: KNModel}, bit-identical to
    oracle.kneser_ney.train_kn_per_lang on the same rows.
    """
    top = (
        corpus.select(
            F.col(lang_col).alias("lang"),
            F.explode(_top_grams_udf(order)(F.col(text_col))).alias("gram"),
        )
        .groupBy("lang", "gram")
        .agg(F.count("*").alias("c"))
    )
    tables: dict[str, dict[int, dict[str, int]]] = {}

    def fold_in(k: int, rows) -> None:
        for r in rows:
            tables.setdefault(r["lang"], {}).setdefault(k, {})[r["gram"]] = r["c"]

    fold_in(order, top.collect())
    # lower orders: continuation counts = one row per distinct suffix-extension
    # in the next-higher table. The higher table is already distinct grams, so
    # a row count per suffix IS the distinct-left-extension count.
    level = top
    for k in range(order - 1, 0, -1):
        level = (
            level.select("lang", F.expr("substring(gram, 2)").alias("gram"))
            .groupBy("lang", "gram")
            .agg(F.count("*").alias("c"))
        )
        fold_in(k, level.collect())
    return {
        lang: assemble_model(counts, order) for lang, counts in sorted(tables.items())
    }


def kn_model_table_df(spark: SparkSession, models: dict[str, KNModel]) -> DataFrame:
    """Top-order counts as a flat (lang, gram, c) DataFrame — the persistable
    dimension-table form of the model (SURVEY.md §2.8 L8). The top-order
    table fully determines the model: lower orders and all float parameters
    re-derive deterministically in assemble_model."""
    rows = [
        (lang, gram, c)
        for lang, m in sorted(models.items())
        for gram, c in sorted(m.counts[m.order].items())
    ]
    return spark.createDataFrame(rows, schema="lang string, gram string, c long")


def save_kn_models(
    spark: SparkSession, models: dict[str, KNModel], path: str
) -> None:
    """Persist as a parquet dimension table next to the corpus (on a real
    cluster: an Iceberg table) — versionable, inspectable, joinable."""
    kn_model_table_df(spark, models).write.mode("overwrite").parquet(path)


def load_kn_models(spark: SparkSession, path: str, order: int = 3) -> dict[str, KNModel]:
    """Rebuild bit-identical models from the persisted top-order table:
    integer counts -> deterministic float assembly (tested round-trip)."""
    tables: dict[str, dict[int, dict[str, int]]] = {}
    for r in spark.read.parquet(path).collect():
        tables.setdefault(r["lang"], {}).setdefault(order, {})[r["gram"]] = r["c"]
    out: dict[str, KNModel] = {}
    for lang, counts in sorted(tables.items()):
        top = counts[order]
        for k in range(order - 1, 0, -1):
            cont: dict[str, int] = {}
            for gram in counts[k + 1]:
                cont[gram[1:]] = cont.get(gram[1:], 0) + 1
            counts[k] = cont
        out[lang] = assemble_model(counts, order)
    return out


def train_word_kn_spark(
    corpus: DataFrame,
    order: int = 3,
    lang_col: str = "lang",
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int | None = None,
) -> dict:
    """Per-language WORD-level KN models (the reference's scoring unit,
    modified_kneser_ney.py:744-758) trained distributively:

    1. per-language casefolded word counts (explode -> Arrow casefold ->
       groupBy) with the SHARED prune rule (min_count floor + top-max_vocab
       by (count desc, word asc), oracle/kneser_ney.py:prune_vocab) applied
       IN SPARK — the driver collect is bounded to max_vocab rows per
       language no matter how large the corpus vocabulary is (web-scale
       10^7+ distinct tokens prune distributively; everything else is OOV,
       priced by the model's UNK bucket)
    2. deterministic word->codepoint maps (oracle/kneser_ney.py:_sym_for)
    3. encode the corpus to symbol strings in an Arrow UDF (broadcast maps)
    4. reuse train_kn_spark verbatim on the encoded corpus

    Bit-identical to oracle WordKNModel.train with the same min_count /
    max_vocab on the same rows (tested)."""
    from pyspark.sql import Window
    from pyspark.sql.types import StringType

    from language_identification_spark.functions.text import casefold_udf
    from language_identification_spark.oracle.kneser_ney import (
        MAX_WORD_VOCAB,
        WordKNModel,
        _sym_for,
    )

    if max_vocab is None:
        max_vocab = MAX_WORD_VOCAB
    spark = corpus.sparkSession
    # split on the PYTHON str.split() whitespace set, not Java \s+ (which is
    # ASCII-only): vocab counting here must tokenize identically to the
    # Python-side encoder below and the word_ppl scorer, or a \x0b/\xa0-
    # bearing corpus trains a different vocabulary than it scores with
    counts = (
        corpus.select(
            F.col(lang_col).alias("lang"),
            F.explode(
                F.filter(
                    F.split(F.col(text_col), PY_WS_SPLIT_RE),
                    lambda w: w != "",
                )
            ).alias("raw_word"),
        )
        .select("lang", casefold_udf(F.col("raw_word")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    rk = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("word"))
    vocab_rows = (
        counts.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= max_vocab)
        .select("lang", "word")
        .collect()  # bounded: <= max_vocab rows per language
    )
    by_lang_vocab: dict[str, set[str]] = {}
    for r in vocab_rows:
        by_lang_vocab.setdefault(r["lang"], set()).add(r["word"])
    maps = {
        lang: {w: _sym_for(i) for i, w in enumerate(sorted(vocab))}
        for lang, vocab in sorted(by_lang_vocab.items())
    }
    bc = spark.sparkContext.broadcast(maps)

    @F.pandas_udf(StringType())
    def _encode(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        ms = bc.value
        for langs, texts in batches:
            out = []
            for lang, text in zip(langs, texts):
                m = ms.get(lang, {})
                out.append(
                    "".join(
                        m.get(w.casefold(), "\x00")
                        for w in (text or "").split()
                    )
                )
            yield pd.Series(out)

    encoded = corpus.select(
        F.col(lang_col).alias("lang"),
        _encode(F.col(lang_col), F.col(text_col)).alias("text"),
    )
    char_models = train_kn_spark(encoded, order=order)
    return {
        lang: WordKNModel(char_models[lang], maps[lang])
        for lang in sorted(char_models)
    }


def ppl_udf(spark_or_sc, models: dict[str, KNModel]):
    """(text, lang) -> perplexity double; null when lang has no model (the
    rule engine's null-safe comparisons then skip the ppl gate, matching the
    oracle's ppl=None behavior)."""
    sc = getattr(spark_or_sc, "sparkContext", spark_or_sc)
    bc = sc.broadcast(models)

    @F.pandas_udf(DoubleType())
    def _ppl(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        ms = bc.value
        for texts, langs in batches:
            out = []
            for text, lang in zip(texts, langs):
                m = ms.get(lang)
                if m is None or not text:
                    out.append(None)
                else:
                    out.append(m.perplexity(text))
            yield pd.Series(out, dtype="float64")

    return _ppl
