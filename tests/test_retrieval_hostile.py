"""Hostile-corpus Spark-vs-DuckDB parity for the round-3 retrieval/batch
gates (bm25_topk, tfidf_keywords, pack_sequences, chunk_documents,
host_lang_consistency): CJK, astral emoji, double spaces, tabs/newlines
inside text, empty and whitespace-only docs, giant words — everything the
space-tokenizer contract must survive identically in both engines."""

import os
import tempfile

import duckdb
import pandas as pd
import pytest

from language_identification_spark import queries

GATES = [
    "bm25_topk",
    "tfidf_keywords",
    "pack_sequences",
    "chunk_documents",
    "host_lang_consistency",
    "vocab_coverage",
    "split_token_budget",
    "snapshot_merge",
    "batch_plan",
    "corpus_curation",
    "winnow_fingerprints",
    "cdc_chunks",
    # round-4 additions: the new text-consuming gates — lower() casing
    # (Turkish İ, German ß, Greek Σ), line splits, sentence/vowel regexp
    # classes, and the link/keep-rate chains must all match cross-engine
    # on this corpus too
    "readability_scores",
    "host_template_lines",
    "template_scrub",
    "corpus_drift",
    "host_pagerank",
    "crawl_priority",
    # block-classification gates: the fixture embeds raw corpus text inside
    # <p>...</p>, so the tag-injection vocab below flows through the block
    # splitter, the (?i) tag-name folding, the anchor extractor, and the
    # \x0b whitespace class in BOTH engines
    "content_blocks",
    "main_content_extract",
    # session-final sweep widening: every remaining text-consuming gate
    # that IS adversarially identical across engines
    "char_entropy",
    "span_dedup",
    "token_count",
    "c4_line_filter",
    "quality_stats_sql",
    "paragraph_dedup",
    "exact_dedup",
]

# Gates probed against this corpus and EXCLUDED with root causes — known
# cross-engine unicode divergence classes, not engine bugs (each gate is
# hash-green on the realistic corpora at sf0.01 AND sf0.1):
# - decontaminate, dsir_select: lower() itself diverges. Two verified
#   sub-classes: Greek capital sigma is CONTEXT-SENSITIVE in Java/Python
#   (trailing SIGMA -> final form 'ς') but simple-mapped ('σ') by
#   DuckDB/utf8proc; Turkish dotted İ (U+0130) lowercases to
#   'i' + U+0307 (2 chars) in Java/Python but to plain 'i' (1 char) in
#   utf8proc — any lowercased token stream containing either diverges
#   byte-wise.
# - gopher_repetition: the same İ class shifts the lowercased-token
#   char-mass denominators (~0.3% on this corpus; verified minimal
#   repro — astral chars alone are IDENTICAL across engines here).
# - bpe_token_count: the BPE-ish regex's class boundaries differ on
#   astral/emoji input between java.util.regex and RE2.
# - fingerprint: had TWO classes. The \s+ one (Java's \s includes \x0b,
#   RE2's does not) was a real portability bug, fixed to the explicit
#   ASCII class on both sides (queries.py q_fingerprint); the remaining
#   divergence is the Σ lower() class above, inherent to lower(text)
#   fingerprints.


def _hostile_corpus() -> list[tuple]:
    import random

    rng = random.Random(77)
    vocab = [
        "spark", "vector", "stream", "window", "the", "a", "word",
        "naïve", "Ωmega", "東京", "データ", "🙂🙂", "𐐷astral", "x" * 300,
        "tab\tinside", "semi;colon",
        # round-4 probes: lower()-casing edge chars (Turkish dotted İ and
        # dotless ı, German ß, Greek Σ/final ς), multi-line text for the
        # template line-splitter, sentence terminators and y-vowel runs
        # for the readability regexp classes
        "İstanbul", "ışık", "STRAßE", "ΣΟΦΟΣ", "τέλος…",
        "line\nbreak", "end.", "wow!!", "what?!", "rhythm", "syzygy",
        # block-gate probes: tag injection inside corpus text — extra block
        # boundaries, uppercase/attributed/self-closed tags, anchors (bare,
        # attributed, unterminated), bare angle brackets, and the \x0b
        # vertical tab (Java \s includes it, RE2's does not — the operators
        # pin explicit ASCII classes so both engines must agree)
        "<p>inner</p>", "<DIV CLASS='X'>shout</DIV>", "<br/>",
        '<a href="/e">evil link</a>', "<a>bare anchor</a>", "<a href='x'",
        "2<3", "a>b", "v\x0btab", "</TD >",
    ]
    rows = []
    for i in range(120):
        if i % 17 == 0:
            text = ""  # empty doc
        elif i % 23 == 0:
            text = "   "  # whitespace-only
        else:
            words = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(1, 40))]
            text = " ".join(words)
            if i % 5 == 0:
                text = text.replace(" ", "  ", 3)  # double spaces
        # (doc_id, lang, source, text, n_chars) — the columns the gates use
        rows.append(
            (
                i,
                ["en", "de", "es", "zh", "ru"][i % 5],
                ["web", "news", "wiki"][i % 3],
                text,
                len(text),
            )
        )
    return rows


@pytest.mark.parametrize("name", GATES)
def test_hostile_parity(spark, name):
    rows = _hostile_corpus()
    schema = "doc_id bigint, lang string, source string, text string, n_chars bigint"
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, lang VARCHAR, source VARCHAR,"
        " text VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    builder, sql = queries.GATES[name]
    oracle_pdf = con.execute(sql).df()

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        spark_pdf = builder(spark, d).toPandas()

    def canon(pdf: pd.DataFrame) -> list[tuple]:
        cols = sorted(pdf.columns)
        out = []
        for row in pdf[cols].itertuples(index=False, name=None):
            out.append(
                tuple(
                    "<NULL>"
                    if v is None or (isinstance(v, float) and v != v)
                    else str(bool(v))
                    if str(type(v)).endswith(("bool'>", "bool_'>"))
                    else str(v)
                    for v in row
                )
            )
        return sorted(out)

    s_rows, o_rows = canon(spark_pdf), canon(oracle_pdf)
    assert len(s_rows) == len(o_rows) > 0, name
    assert s_rows == o_rows, name
