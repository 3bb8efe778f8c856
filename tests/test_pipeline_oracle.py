"""The flagship DuckDB oracle (oracle/pipeline_sql.py) vs the real pipeline.

The driver gate runs the oracle only on the well-behaved sf0.01 documents
table; this suite feeds BOTH engines an adversarial Basic-Latin corpus that
triggers every rule path (empty text, digit soup, symbol soup, repeated-char
runs, duplicated lines, bullet lists, ellipsis spam, boilerplate without
stopwords, clean docs in several NB languages) and asserts full-row equality
under the gate's own canonicalization. Non-Latin scripts are excluded by
design: the oracle replays only the NB branch of detect_batch (the script
shortcut is unreachable on Basic-Latin corpora — pipeline_sql.py docstring);
script-branch parity is pinned by tests/test_golden_scripts.py.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from language_identification_spark.fixtures import training_corpus
from language_identification_spark.oracle.langid import NgramNBModel
from language_identification_spark.oracle.pipeline_sql import (
    quality_pipeline_oracle_sql,
)
from language_identification_spark.oracle.quality import QualityConfig
from language_identification_spark.plans.pipeline import quality_filter_plan

ADVERSARIAL_TEXTS: list[str | None] = [
    None,  # empty_text
    "",  # conf 0.0 -> lang_conf_low (+ zero-stat rules)
    "a",  # single char, single NB gram
    "the be to of and that have with more words here to pass the gate",
    "dan yang untuk dengan tidak ini itu dari saya mereka bisa akan sudah",
    "12345 99821 55 102 8 77 3141 59 26 535 89 79 323 84 626 433 83",
    "#$%& *@! #$%& *@! #$%& *@! #$%& *@!",
    "word aaaaaaaaaaaaaaaaaaaa word and the be to of that lines here",
    "same line here\nsame line here\nsame line here\nsame line here",
    "- item one\n- item two\n- item three\n- item four",
    # both ellipsis forms trigger since the full sentence_split port keeps
    # punctuation: lines can end with ascii '...' as well as U+2026
    "this trails off…\nand again it does…\nmore of that too…",
    "it ends like this... and this... and even this... yes more... ok...",
    "click here copyright page link subscribe cookie privacy policy terms",
    "short",
    "wordwordwordword wordwordwordword wordwordwordword wordwordwordword",
    "don't can't won't it's o'clock the and of to be that have with them",
    "contact me a@b.example or https://x.example/page +1 555-123-4567 ok",
    "the quick brown fox jumps over the lazy dog with that have from it",
    # blank-line run: Python's (.)\1{3,} never matches \n, so a 5-newline
    # run must NOT count as a repeated-char run (review finding: the SQL
    # gaps-and-islands rewrite counted it until newlines were excluded)
    "the be to of and more\n\n\n\n\nthe and of it",
]


@pytest.fixture(scope="module")
def model():
    return NgramNBModel.train(training_corpus())


def _canon_frame(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = []
    for row in pdf[cols].itertuples(index=False, name=None):
        rows.append(
            tuple(
                "<NULL>"
                if v is None or (isinstance(v, float) and v != v)
                else str(bool(v))
                if str(type(v)).endswith(("bool'>", "bool_'>"))
                else str(v)
                for v in row
            )
        )
    return sorted(rows)


def test_flagship_oracle_matches_pipeline_on_adversarial_corpus(spark, model):
    rows = [(i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle_pdf = con.execute(quality_pipeline_oracle_sql(model)).df()

    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        "text",
    )
    spark_pdf = (
        quality_filter_plan(pages, model, config=QualityConfig(), text_col="text")
        .drop("warc_ts")
        .withColumn("drop_reasons", F.array_join("drop_reasons", "|"))
        .withColumn("lang_conf", F.round("lang_conf", 6))
        .toPandas()
    )

    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns)
    s_rows, o_rows = _canon_frame(spark_pdf), _canon_frame(oracle_pdf)
    assert len(s_rows) == len(ADVERSARIAL_TEXTS)
    assert len(o_rows) == len(s_rows)  # zip would silently drop extras
    for s, o in zip(s_rows, o_rows):
        assert s == o


KN_EDGE_DOCS = [
    (0, "en", "the cat sat on the mat and the cat sat again"),
    (1, "en", "the dog sat on the mat"),
    (2, "en", ""),  # NULL-equivalent: scored as NULL ppl
    (3, "en", "   "),  # whitespace-only: +inf ppl, but trains (BOS,EOS)
    (4, "en", "one"),  # single word: two predictions (word, EOS)
    (5, "xx", "solo language with its own tiny model"),
    (6, "en", "the cat sat on the mat"),
    # \x0b is whitespace to Python str.split() but not to RE2 \s — the
    # oracle must split on the exact Python set (review finding)
    (7, "en", "the\x0bcat sat here"),
    # NULL text: the word trainer counts a (BOS,EOS) bigram for it, the char
    # trainer skips it entirely — both oracles must mirror their own side
    # (review finding)
    (8, "en", None),
]


def test_word_kn_oracle_matches_spark_on_edge_docs(spark):
    """oracle/kn_sql.py vs the Spark-trained order-2 word-KN scorer on a
    corpus with empty/whitespace/single-word docs and a singleton language."""
    from language_identification_spark.registry import queries
    from language_identification_spark.oracle.kn_sql import SQL_WORD_KN_PPL

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", KN_EDGE_DOCS)
    oracle_pdf = con.execute(SQL_WORD_KN_PPL).df()

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            KN_EDGE_DOCS, "doc_id bigint, lang string, text string"
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        spark_pdf = queries()["word_kn_ppl"](spark, d).toPandas()

    s_rows, o_rows = _canon_frame(spark_pdf), _canon_frame(oracle_pdf)
    assert len(s_rows) == len(KN_EDGE_DOCS)
    assert len(o_rows) == len(s_rows)  # zip would silently drop extras
    for s, o in zip(s_rows, o_rows):
        assert s == o


def test_word_kn_order3_oracle_matches_spark_on_edge_docs(spark):
    """Round-4: SQL_WORD_KN_PPL_O3 (raw trigrams + continuation
    bigrams/unigrams + per-order discounts + two-stage interpolated
    backoff) vs the Spark-trained ORDER-3 word-KN scorer on the same edge
    corpus — the round-3 verdict's 'order-3 gate or written impossibility'
    item, resolved as a gate."""
    from language_identification_spark.registry import queries
    from language_identification_spark.oracle.kn_sql import (
        SQL_WORD_KN_PPL_O3,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", KN_EDGE_DOCS)
    oracle_pdf = con.execute(SQL_WORD_KN_PPL_O3).df()

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            KN_EDGE_DOCS, "doc_id bigint, lang string, text string"
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        spark_pdf = queries()["word_kn_ppl_o3"](spark, d).toPandas()

    s_rows, o_rows = _canon_frame(spark_pdf), _canon_frame(oracle_pdf)
    assert len(s_rows) == len(KN_EDGE_DOCS)
    assert len(o_rows) == len(s_rows)
    for s, o in zip(s_rows, o_rows):
        assert s == o
    # order-3 genuinely differs from order-2 on repeated-context docs —
    # the gate is not vacuously re-checking the bigram model
    o2 = con.execute(
        "SELECT word_ppl FROM ({}) ORDER BY doc_id".format(
            __import__(
                "language_identification_spark.oracle.kn_sql",
                fromlist=["SQL_WORD_KN_PPL"],
            ).SQL_WORD_KN_PPL
        )
    ).df()
    o3 = con.execute(
        "SELECT word_ppl3 FROM ({}) ORDER BY doc_id".format(SQL_WORD_KN_PPL_O3)
    ).df()
    assert list(o2["word_ppl"]) != list(o3["word_ppl3"])


def test_char_kn_oracle_matches_spark_on_edge_docs(spark):
    """SQL_CHAR_KN_PPL vs the Spark-trained order-2 char-KN scorer on the
    same edge corpus (whitespace-only text scores FINITE here — chars exist
    even when words do not)."""
    from language_identification_spark.registry import queries
    from language_identification_spark.oracle.kn_sql import SQL_CHAR_KN_PPL

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", KN_EDGE_DOCS)
    oracle_pdf = con.execute(SQL_CHAR_KN_PPL).df()

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            KN_EDGE_DOCS, "doc_id bigint, lang string, text string"
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        spark_pdf = queries()["char_kn_ppl"](spark, d).toPandas()

    s_rows, o_rows = _canon_frame(spark_pdf), _canon_frame(oracle_pdf)
    assert len(s_rows) == len(KN_EDGE_DOCS)
    assert len(o_rows) == len(s_rows)
    for s, o in zip(s_rows, o_rows):
        assert s == o


ASTRAL_DOCS = [
    # CJK Ext B (U+20000+), Deseret (U+10400 — an 'en' script in the full
    # index), emoji outside every dim range, plus BMP controls
    (0, "zh", "水\U00020000\U00020001 的"),
    (1, "en", "\U00010400\U00010401 the word"),
    (2, "fr", "c'est \U0001F600 bien"),
    (3, "de", "plain ascii text"),
]


def test_script_charset_join_astral_parity(spark):
    """queries.q_script_charset_join vs its DuckDB oracle on astral-plane
    chars: Spark's split('')+ascii() must yield full codepoints (not UTF-16
    halves) so astral scripts (Han Ext B, Deseret) bin identically to
    DuckDB's unicode() — the round-2 verdict's astral risk, pinned."""
    import os
    import tempfile

    from language_identification_spark.queries import (
        SQL_SCRIPT_CHARSET_JOIN,
        q_script_charset_join,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", ASTRAL_DOCS)
    oracle_pdf = con.execute(SQL_SCRIPT_CHARSET_JOIN).df()
    assert len(oracle_pdf)  # astral chars matched some language's charset

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            ASTRAL_DOCS, "doc_id bigint, lang string, text string"
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        spark_pdf = q_script_charset_join(spark, d).toPandas()

    assert _canon_frame(spark_pdf) == _canon_frame(oracle_pdf)


def _random_latin_corpus(n_docs: int = 300, seed: int = 99) -> list[str]:
    """Seeded random Basic-Latin corpus: words over a small letter alphabet
    mixed with digits, punctuation, apostrophes, newlines, bullets, ellipses
    and repeated-char runs — broad-spectrum input for the SQL oracles while
    staying inside their documented Basic-Latin precondition."""
    import random

    rng = random.Random(seed)
    pieces = [
        "the", "be", "to", "of", "and", "that", "have", "with", "dan",
        "yang", "untuk", "cat", "dog", "word", "don't", "it's", "a", "I",
        "42", "3.14", "x1y2", "#tag", "@user", "...", "…", "- item",
        "(so)", '"quote"', "aaaaaa", "zzzzz", "!!", "??", ";", ":",
    ]
    seps = [" ", " ", " ", " ", "\n", ". ", "! ", "? ", "  "]
    docs = []
    for _ in range(n_docs):
        k = rng.randint(0, 40)
        docs.append(
            "".join(
                rng.choice(pieces) + rng.choice(seps) for _ in range(k)
            ).strip()
        )
    return docs


def test_flagship_oracle_matches_pipeline_on_random_corpus(spark, model):
    """Broad-spectrum hardening: 300 seeded random Basic-Latin docs through
    BOTH engines — catches divergence classes no handpicked fixture covers
    (e.g. the newline-run and whitespace-class bugs found in review)."""
    texts = _random_latin_corpus()
    rows = [(i, t) for i, t in enumerate(texts)]

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle_pdf = con.execute(quality_pipeline_oracle_sql(model)).df()

    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        "text",
    )
    spark_pdf = (
        quality_filter_plan(pages, model, config=QualityConfig(), text_col="text")
        .drop("warc_ts")
        .withColumn("drop_reasons", F.array_join("drop_reasons", "|"))
        .withColumn("lang_conf", F.round("lang_conf", 6))
        .toPandas()
    )
    s_rows, o_rows = _canon_frame(spark_pdf), _canon_frame(oracle_pdf)
    assert len(s_rows) == len(o_rows) == len(texts)
    for i, (s, o) in enumerate(zip(s_rows, o_rows)):
        assert s == o, (i, s, o)


def test_kn_oracles_match_spark_on_random_corpus(spark):
    """Both KN oracles (word + char, order 2) over the random corpus split
    across two 'languages' (per-language models trained AND replayed)."""
    import os
    import tempfile

    from language_identification_spark.registry import queries
    from language_identification_spark.oracle.kn_sql import (
        SQL_CHAR_KN_PPL,
        SQL_WORD_KN_PPL,
    )

    texts = _random_latin_corpus(150, seed=7)
    rows = [(i, "aa" if i % 2 else "bb", t) for i, t in enumerate(texts)]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id bigint, lang string, text string"
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        for sql, q in [
            (SQL_WORD_KN_PPL, queries()["word_kn_ppl"]),
            (SQL_CHAR_KN_PPL, queries()["char_kn_ppl"]),
        ]:
            oracle_pdf = con.execute(sql).df()
            spark_pdf = q(spark, d).toPandas()
            s_rows, o_rows = _canon_frame(spark_pdf), _canon_frame(oracle_pdf)
            assert len(s_rows) == len(o_rows) == len(rows)
            for s, o in zip(s_rows, o_rows):
                assert s == o


def test_term_cleanup_oracle_matches_on_hostile_whitespace(spark):
    """term_cleanup parity on a corpus salted with vertical tab, form feed
    and CR — pins the explicit ASCII-whitespace split class (Java \\s
    includes U+000B, RE2's does not, so a \\s-based split diverges; found
    in review)."""
    import os
    import tempfile

    from language_identification_spark.queries import (
        SQL_TERM_CLEANUP,
        q_term_cleanup,
    )

    texts = _random_latin_corpus(120, seed=13)
    # splice hostile whitespace between words of every third doc
    hostile = []
    for i, t in enumerate(texts):
        if i % 3 == 0:
            t = t.replace(" ", "\x0b", 1).replace(" ", "\f", 2).replace(
                " ", "\r\n", 1
            )
        hostile.append(t)
    rows = [(i, t) for i, t in enumerate(hostile)]
    assert any("\x0b" in t for t in hostile)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle_pdf = con.execute(SQL_TERM_CLEANUP).df()

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.parquet(os.path.join(d, "documents.parquet"))
        spark_pdf = q_term_cleanup(spark, d).toPandas()
    s_rows, o_rows = _canon_frame(spark_pdf), _canon_frame(oracle_pdf)
    assert len(s_rows) == len(o_rows) > 0
    for s, o in zip(s_rows, o_rows):
        assert s == o


def test_every_rule_fires_somewhere(spark, model):
    """The adversarial corpus is only a good oracle test if it actually
    exercises the rules: assert the union of drop reasons covers every
    non-perplexity rule name."""
    rows = [(i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        "text",
    )
    out = quality_filter_plan(
        pages, model, config=QualityConfig(), text_col="text"
    ).toPandas()
    fired = {r for reasons in out["drop_reasons"] for r in reasons}
    expected = {
        "empty_text",
        "lang_conf_low",
        "too_few_words",
        "too_few_stopwords",
        "mean_word_len_high",
        "symbol_ratio_high",
        "digit_frac_high",
        "dup_line_frac_high",
        "repeated_char_high",
        "bullet_frac_high",
        "ellipsis_frac_high",
    }
    assert expected <= fired, expected - fired
    assert out["keep"].any()


def test_langid_model_oracles_match_on_hostile_random_corpus(spark):
    """textcat_langid + langid_nb_rank SQL oracles over a seeded random
    corpus salted with hostile whitespace (VT/FF/CR — the Java-vs-RE2 \\s
    divergence class), multi-byte Latin/CJK and astral chars — pins the
    explicit whitespace split class, the hex byte-gram framing, and the
    rounding conventions of both new langid gates."""
    import os
    import tempfile

    from language_identification_spark.queries import (
        SQL_LANGID_NB_RANK,
        SQL_TEXTCAT_LANGID,
        q_langid_nb_rank,
        q_textcat_langid,
    )

    texts = _random_latin_corpus(150, seed=21)
    salts = ["café", "猫狗", "\U00020000\U00010440", "\x0bx\fy\rz"]
    rows = []
    for i, t in enumerate(texts):
        if i % 3 == 0:
            t = f"{t} {salts[i % len(salts)]} {t}"
        rows.append((i, "aa" if i % 2 else "bb", t))

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id bigint, lang string, text string"
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        for sql, q in [
            (SQL_TEXTCAT_LANGID, q_textcat_langid),
            (SQL_LANGID_NB_RANK, q_langid_nb_rank),
        ]:
            oracle_pdf = con.execute(sql).df()
            spark_pdf = q(spark, d).toPandas()
            s_rows, o_rows = _canon_frame(spark_pdf), _canon_frame(oracle_pdf)
            assert len(s_rows) == len(o_rows) > 0
            for s, o in zip(s_rows, o_rows):
                assert s == o


def test_webtext_hygiene_oracles_match_on_hostile_random_corpus(spark):
    """paragraph_dedup + c4_line_filter + url_dedup + host_stats_salted +
    ccnet_lang_buckets + span_dedup SQL oracles over a seeded random corpus
    salted with the divergence classes that bite these operators: \\r-
    terminated lines (the Java-$-anchor trap), VT/FF whitespace (Java-vs-
    RE2 \\s), blank-line paragraph breaks, CJK/astral chars, braces /
    javascript / lorem-ipsum / policy canaries, and verbatim cross-doc
    repeats so every dedup path actually fires."""
    import os
    import tempfile

    from language_identification_spark.queries import (
        SQL_C4_LINE_FILTER,
        SQL_CCNET_LANG_BUCKETS,
        SQL_HOST_STATS_SALTED,
        SQL_PARAGRAPH_DEDUP,
        SQL_SPAN_DEDUP,
        SQL_URL_DEDUP,
        q_c4_line_filter,
        q_ccnet_lang_buckets,
        q_host_stats_salted,
        q_paragraph_dedup,
        q_span_dedup,
        q_url_dedup,
    )

    texts = _random_latin_corpus(120, seed=37)
    salts = [
        "shared boilerplate sentence nine words long ends here now.",
        "line ends in dot then carriage return.\r",
        "\n\npara break 猫狗 \U00020000\U00010440 follows\n\n",
        "\x0bvertical\ftab mix enable javascript { lorem ipsum } now",
        'privacy policy slurword "quoted."',
    ]
    rows = []
    for i, t in enumerate(texts):
        t = f"{t} {salts[i % len(salts)]} {t if i % 4 else texts[0]}"
        rows.append((i, t, "aa" if i % 2 else "bb", f"src{i % 5}", len(t)))

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id bigint, text string, lang string, source string,"
            " n_chars bigint",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        pairs = [
            ("paragraph_dedup", SQL_PARAGRAPH_DEDUP, q_paragraph_dedup),
            ("c4_line_filter", SQL_C4_LINE_FILTER, q_c4_line_filter),
            ("url_dedup", SQL_URL_DEDUP, q_url_dedup),
            ("host_stats_salted", SQL_HOST_STATS_SALTED, q_host_stats_salted),
            ("ccnet_lang_buckets", SQL_CCNET_LANG_BUCKETS, q_ccnet_lang_buckets),
            ("span_dedup", SQL_SPAN_DEDUP, q_span_dedup),
        ]
        for name, sql, q in pairs:
            oracle_pdf = con.execute(sql).df()
            spark_pdf = q(spark, d).toPandas()
            s_rows, o_rows = _canon_frame(spark_pdf), _canon_frame(oracle_pdf)
            assert len(s_rows) == len(o_rows) > 0, name
            for s, o in zip(s_rows, o_rows):
                assert s == o, (name, s, o)
