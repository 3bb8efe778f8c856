"""Quality operators: native rule expressions (JVM) over the stats struct.

The per-document statistics struct (``STATS_SCHEMA``) is computed in the
fused enrich pass (operators/enrich.py), once per document in Python.
Everything downstream — threshold comparisons, the drop_reasons array, the
keep flag — is native Column expressions, so:

- re-tuning thresholds re-runs only JVM exprs, never the Python stage;
- Catalyst can push the ``keep`` predicate into later stages / prune columns;
- the rule evaluation participates in whole-stage codegen.

The stats themselves call oracle/quality.py:doc_stats — identical semantics to
the row-wise oracle, asserted in tests/test_parity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from language_identification_spark.oracle.quality import (
    RULES,
    STAT_FIELDS,
    WORD_LENGTH_RULE_LANGS,
    QualityConfig,
)

STATS_SCHEMA = StructType([StructField(f, DoubleType()) for f in STAT_FIELDS])


def rule_columns(
    config: QualityConfig,
    stats_col: str = "stats",
    lang_col: str = "lid.lang",
    conf_col: str = "lid.conf",
    text_col: str = "extracted_text",
    ppl_col: str | None = None,
) -> list[tuple[str, Column]]:
    """(rule_name, boolean Column) for every configured rule — native exprs
    mirroring oracle/quality.py:apply_rules."""
    s = F.col(stats_col)
    # sorted(): frozenset iteration order varies per interpreter run, and an
    # unstable IN-list order churns the physical plan text (PLANS.md diffs).
    lang_ok_for_wordlen = F.col(lang_col).isin(*sorted(WORD_LENGTH_RULE_LANGS))
    cols: list[tuple[str, Column]] = [
        ("empty_text", F.col(text_col).isNull())
    ]
    empty = F.col(text_col).isNull()
    for name, stat, op, attr, gated in RULES:
        threshold = F.lit(float(getattr(config, attr)))
        cond = s[stat] < threshold if op == "<" else s[stat] > threshold
        if gated:
            cond = cond & lang_ok_for_wordlen
        cols.append((name, cond & ~empty))
    cols.append(
        ("lang_conf_low", (F.col(conf_col) < F.lit(config.min_lang_conf)) & ~empty)
    )
    if ppl_col is not None:
        cols.append(
            ("perplexity_high", (F.col(ppl_col) > F.lit(config.max_ppl)) & ~empty)
        )
    return cols


def with_keep_decision(
    df: DataFrame,
    config: QualityConfig,
    ppl_col: str | None = None,
    text_col: str = "extracted_text",
) -> DataFrame:
    """Add drop_reasons (sorted array<string>, matching the oracle's sorted
    output) and keep (boolean). Pure JVM expressions."""
    rules = rule_columns(config, ppl_col=ppl_col, text_col=text_col)
    reason_structs = F.array(
        *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    reasons = F.array_sort(
        F.filter(reason_structs, lambda x: x.isNotNull())
    )
    return df.withColumn("drop_reasons", reasons).withColumn(
        "keep", F.size("drop_reasons") == 0
    )


def char_entropy_col(text_col: str = "text"):
    """Shannon entropy (bits/char) of the character distribution, as a pure
    narrow-map expression: H = log2(n) - (sum_c cnt_c * log2(cnt_c)) / n
    over the SORTED distinct chars (sorted so the sequential fold order —
    and therefore the float rounding path — is engine-independent). NULL
    for empty text.

    Low entropy flags repetitive garbage (keyboard mashing, repeated
    boilerplate runs, single-char padding) that length/word rules miss —
    the RefinedWeb-class signal. Shape: zero shuffle, zero Python; per-row
    cost is O(distinct_chars x len), and distinct chars on a web page are
    bounded by its script's alphabet (hundreds), so this beats shuffling
    the corpus twice through the (doc_id, chr) groupBy form — use THAT
    form (char_freq's plan) only for book-length rows."""
    from pyspark.sql import functions as F

    # the char array is let-bound via a single-element transform so the
    # split runs once per row — inlined, the per-distinct-char filter
    # re-evaluated it per element (no CSE inside HOF lambdas: the
    # content_blocks lesson, operators/blocks.py)
    cs = F.filter(F.split(F.col(text_col), ""), lambda c: c != "")

    def _entropy(chars):
        n = F.size(chars)
        dist = F.array_sort(F.array_distinct(chars))
        counts = F.transform(
            dist,
            lambda c: F.size(F.filter(chars, lambda x: x == c)).cast(
                "double"
            ),
        )
        ssum = F.aggregate(
            counts, F.lit(0.0), lambda acc, x: acc + x * F.log2(x)
        )
        return F.when(n > 0, F.log2(n.cast("double")) - ssum / n)

    return F.get(F.transform(F.array(cs), _entropy), 0)


def ccnet_buckets_histogram(
    df: DataFrame,
    score_col: str,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    bin_scale: int = 100,
) -> DataFrame:
    """The 10^12-doc form of ``ccnet_lang_buckets`` — the histogram variant
    its docstring promises, shipped: instead of a full per-language sort of
    the corpus, bucket cuts come from a per-language SCORE HISTOGRAM.

    1. bin = floor(score * bin_scale) — a narrow map.
    2. histogram = groupBy(lang, bin).count() — the ONLY corpus-wide
       exchange, and it map-side-combines to |langs x bins| rows (hundreds
       per language at bin_scale=100), independent of corpus size.
    3. cumulative counts + the two cut bins (smallest bin whose cumulative
       reaches 1/3 and 2/3 of the language total) via a window over the
       HISTOGRAM — thousands of rows, partitioned by lang, never the
       corpus. Exact integer arithmetic (cum*3 >= n), no float percentile.
    4. cuts (one row per language) broadcast-join back; bucketing is a
       comparison — another narrow map.

    Semantics vs the exact form: identical up to score-bin granularity —
    every doc in a boundary bin lands in the lower bucket wholesale (CCNet
    itself cuts on score thresholds, not rank ties, so this IS the
    published semantics; the exact-rank form is the stricter gate). The
    corpus is never sorted and never shuffled on the skewed language key."""
    from pyspark.sql import functions as F

    scored = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.col(score_col).alias("score"),
    ).withColumn("bin", F.floor(F.col("score") * bin_scale).cast("long"))
    hist = scored.groupBy("lang", "bin").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy("bin")
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("lang"))
    )
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") * 3 >= F.col("n"), F.col("bin"))
        ).alias("cut1"),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("bin"))
        ).alias("cut2"),
    )
    bucket = (
        F.when(F.col("bin") <= F.col("cut1"), "head")
        .when(F.col("bin") <= F.col("cut2"), "middle")
        .otherwise("tail")
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id", "lang", "score", "bin", bucket.alias("bucket")
    )


def ccnet_lang_buckets(
    df: DataFrame,
    score_col: str,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style per-language percentile bucketing (Wenzek et al. 2020):
    within each language, rank documents by a quality score ASCENDING
    (lower = better, e.g. LM perplexity) and cut the ranking into thirds —
    ``head`` (best), ``middle``, ``tail`` (worst). Absolute thresholds are
    meaningless across languages (a fluent Burmese page scores "worse" than
    spam English under an English-heavy LM); per-language percentiles are
    the published fix, and downstream training samples by bucket.

    Cuts are EXACT integer arithmetic (rank*3 vs n, ties broken by id), so
    any two engines agree row-for-row — no float percentile semantics.

    Scale shape: one exchange on the language key + a per-language sort.
    Language is a low-cardinality skewed key (English is half the web), so
    at 10^12 docs swap the full sort for approx ranks: compute per-language
    score histograms (salted two-phase agg, operators/hoststats.py shape),
    derive the two cut scores from the histogram, then bucket by comparison
    — a narrow map. Kept exact here so the oracle replays it; the histogram
    variant changes only WHERE the cuts come from."""
    w = Window.partitionBy(lang_col)
    rn = F.row_number().over(w.orderBy(F.col(score_col).asc(), F.col(id_col).asc()))
    n = F.count("*").over(w)
    bucket = (
        F.when(rn * 3 <= n, "head")
        .when(rn * 3 <= 2 * n, "middle")
        .otherwise("tail")
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.col(score_col).alias("score"),
        rn.cast("bigint").alias("lang_rank"),
        bucket.alias("bucket"),
    )
