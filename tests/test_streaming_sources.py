"""Streaming jobs, sources/sinks, and multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from language_identification_spark.fixtures import pages_df, training_corpus
from language_identification_spark.oracle.langid import NgramNBModel
from language_identification_spark.sources import (
    read_chargram_csv,
    read_wordlist,
    write_partitioned_by_lang,
    write_sorted_wordlists,
)
from language_identification_spark.streaming import (
    run_stream_once,
    streaming_pages_filter,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def test_streaming_pipeline_matches_batch(spark, tmp_path):
    """quality_filter_plan applied via readStream == the same plan in batch
    (stateless per-row => stream-safe without operator changes)."""
    from language_identification_spark.oracle.quality import QualityConfig
    from language_identification_spark.plans.pipeline import quality_filter_plan

    model = NgramNBModel.train(training_corpus())
    pages = pages_df(spark, 120)
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)

    stream = streaming_pages_filter(spark, src, model, config=QualityConfig())
    got = run_stream_once(stream, str(tmp_path / "ckpt2"), "pages_filter")
    batch = quality_filter_plan(
        spark.read.parquet(src), model, config=QualityConfig()
    )
    g = {r["url"]: (r["keep"], tuple(r["drop_reasons"])) for r in got.collect()}
    b = {r["url"]: (r["keep"], tuple(r["drop_reasons"])) for r in batch.collect()}
    assert g == b and len(g) == 120


def test_streaming_c4_matches_batch(spark, tmp_path):
    """c4_line_filter via readStream == the same operator in batch (it is a
    zero-exchange narrow map, so it must be stream-safe verbatim)."""
    from language_identification_spark.operators.c4 import c4_line_filter
    from language_identification_spark.streaming import streaming_docs_c4

    src = str(tmp_path / "docs_src")
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "text",
        F.concat(
            F.regexp_replace(F.col("text"), r"(([^ ]+ ){6}[^ ]+) ", "$1.\n"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\nenable javascript now please thanks.")).otherwise(F.lit("")),
        ),
    )
    docs.write.parquet(src)

    got = run_stream_once(
        streaming_docs_c4(spark, src), str(tmp_path / "ckpt4"), "docs_c4"
    )
    batch = c4_line_filter(spark.read.parquet(src))
    g = {r["doc_id"]: (r["clean_text"], r["n_kept"], r["keep"]) for r in got.collect()}
    b = {r["doc_id"]: (r["clean_text"], r["n_kept"], r["keep"]) for r in batch.collect()}
    assert g == b and len(g) > 0
    assert any(v[1] > 0 for v in g.values())


# ---------------------------------------------------------------------------
# sources / sinks
# ---------------------------------------------------------------------------


def test_chargram_csv_reader(spark, tmp_path):
    p = tmp_path / "grams.tsv"
    p.write_text("t1\tEnglish\t1\tab\t10\nt2\tMalay\t1\tcd\t20\n")
    df = read_chargram_csv(spark, str(p))
    rows = {r["lang_name"]: (r["gram"], r["count"]) for r in df.collect()}
    assert rows == {"English": ("ab", 10), "Malay": ("cd", 20)}


def test_wordlist_reader(spark, tmp_path):
    p = tmp_path / "words.txt"
    p.write_text("apple banana\ncherry\n\n  date  \n")
    words = sorted(r["word"] for r in read_wordlist(spark, str(p)).collect())
    assert words == ["apple", "banana", "cherry", "date"]


def test_ucd_xml_scan(spark, tmp_path):
    """S5: distributed UCD flat-XML scan — single-cp and first-cp/last-cp
    range elements, attribute order independence, hex parse beyond the BMP
    (parse-ucd.ipynb cells 2-5 semantics)."""
    from language_identification_spark.sources.io import (
        read_ucd_xml,
        ucd_script_charsets,
    )

    p = tmp_path / "ucd.frag.xml"
    p.write_text(
        '<?xml version="1.0"?>\n<ucd>\n<repertoire>\n'
        '<char cp="0041" na="LATIN CAPITAL LETTER A" gc="Lu" sc="Latn"/>\n'
        '<char gc="Lu" sc="Latn" cp="0042"/>\n'  # attribute order shuffled
        '<char cp="0043" gc="Lu" sc="Latn"/>\n'
        '<char cp="0030" gc="Nd" sc="Zyyy"/>\n'  # digit: dropped by charset filter
        '<char cp="20AC" gc="Sc" sc="Zyyy"/>\n'  # symbol: kept
        '<char first-cp="3400" last-cp="4DB5" gc="Lo" sc="Hani"/>\n'
        '<char cp="10400" gc="Lu" sc="Dsrt"/>\n'  # astral hex parse
        '<reserved first-cp="0870" last-cp="089F"/>\n'
        "</repertoire>\n</ucd>\n"
    )
    ucd = read_ucd_xml(spark, str(p))
    rows = {(r.cp_lo, r.cp_hi, r.gc, r.sc) for r in ucd.collect()}
    assert (0x41, 0x41, "Lu", "Latn") in rows
    assert (0x42, 0x42, "Lu", "Latn") in rows
    assert (0x3400, 0x4DB5, "Lo", "Hani") in rows
    assert (0x10400, 0x10400, "Lu", "Dsrt") in rows
    assert len(rows) == 7  # <reserved> line dropped

    charsets = {
        (r.sc, r.cp_lo, r.cp_hi)
        for r in ucd_script_charsets(ucd).collect()
    }
    # A/B/C coalesce into one range; digit dropped; symbol kept
    assert charsets == {
        ("Latn", 0x41, 0x43),
        ("Zyyy", 0x20AC, 0x20AC),
        ("Hani", 0x3400, 0x4DB5),
        ("Dsrt", 0x10400, 0x10400),
    }


def test_charsets_json_sink(spark, tmp_path):
    """K2's MultiCharSet.to_json shape (reference datatypes.py:549-561):
    one JSON document {script: [[lo, hi], ...]}, indent=4, range pairs as
    sorted coalesced int lists — byte-comparable to what the reference's
    scripts.json build emits for the same ranges."""
    import json

    from language_identification_spark.sources.io import write_charsets_json

    charsets = spark.createDataFrame(
        [
            ("Latn", 0x41, 0x43),
            ("Latn", 0x61, 0x7A),
            ("Dsrt", 0x10400, 0x10400),
        ],
        schema="sc string, cp_lo long, cp_hi long",
    )
    path = str(tmp_path / "scripts.json")
    text = write_charsets_json(charsets, path)
    assert open(path).read() == text
    assert json.loads(text) == {
        "Dsrt": [[0x10400, 0x10400]],
        "Latn": [[0x41, 0x43], [0x61, 0x7A]],
    }
    # the reference writes with indent=4: a nested list renders multi-line
    assert text.startswith('{\n    "Dsrt": [')


def test_partitioned_sink_and_pruned_read(spark, tmp_path):
    docs = spark.createDataFrame(
        [("en", "hello"), ("en", "world"), ("ms", "rumah")],
        schema="lang string, word string",
    )
    out = str(tmp_path / "bylang")
    write_partitioned_by_lang(docs, out)
    assert sorted(
        d for d in os.listdir(out) if d.startswith("lang=")
    ) == ["lang=en", "lang=ms"]
    back = spark.read.parquet(out).filter(F.col("lang") == "ms")
    # partition pruning: only the ms directory is scanned
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 1
    assert "lang=ms" in plan or "PartitionFilters" in plan


def test_sorted_wordlist_sink(spark, tmp_path):
    df = spark.createDataFrame(
        [("en", "b"), ("en", "a"), ("en", "a"), ("ms", "z")],
        schema="lang string, word string",
    )
    out = str(tmp_path / "sorted")
    write_sorted_wordlists(df, out)
    en = spark.read.parquet(f"{out}/lang=en").collect()
    assert [r["word"] for r in en] == ["a", "b"]  # deduped + sorted


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_multimodal_feature_extraction(spark):
    from language_identification_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        fake_media_df,
    )

    media = fake_media_df(spark, 64)
    feats = extract_features(media).collect()
    assert len(feats) == 64
    by_id = {r["doc_id"]: r for r in feats}
    ok = [r for r in feats if r["decode_error"] is None]
    assert ok, "some rows must decode"
    for r in ok:
        assert len(r["features"]) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r["features"])
    # unknown media type surfaces as per-row error, not a task failure
    unknown = [r for r in feats if r["media_type"] == "application/x-unknown"]
    assert unknown and all(
        r["decode_error"] and "no codec" in r["decode_error"] for r in unknown
    )
    # null blob handled
    assert any(r["decode_error"] == "null_media" for r in feats)
    # deterministic across runs (task-retry safety)
    again = {r["doc_id"]: r for r in extract_features(media).collect()}
    for i, r in by_id.items():
        assert again[i]["features"] == r["features"]


def test_multimodal_is_narrow_map(spark):
    """The decode stage must not shuffle (narrow mapInPandas)."""
    from language_identification_spark.operators.multimodal import (
        extract_features,
        fake_media_df,
    )

    plan = (
        extract_features(fake_media_df(spark, 16))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_merge_wordlists_and_filters(spark):
    """SO5 + P8: wordlist union dedupes across sources; has_text keeps rows
    with a letter-or-mark char (find_words char class), has_digit keeps rows
    with an ASCII digit — the reference checks '1234567890' membership and
    deliberately NOT unicode isdigit (cleanup.ipynb cell 2)."""
    from language_identification_spark.sources.io import (
        has_digit_filter,
        has_text_filter,
        merge_wordlists,
    )

    a = spark.createDataFrame([("apple",), ("beta1",), ("42",)], "term string")
    b = spark.createDataFrame([("apple",), ("čaj",), ("٣٤",)], "term string")
    merged = merge_wordlists([a, b])
    assert merged.count() == 5  # 'apple' deduped
    with_text = sorted(r["term"] for r in has_text_filter(merged).collect())
    assert with_text == ["apple", "beta1", "čaj"]  # unicode letters count
    with_digit = sorted(r["term"] for r in has_digit_filter(merged).collect())
    assert with_digit == ["42", "beta1"]  # arabic-indic ٣٤ does NOT count
    # a combining-mark-only term counts as text (category M qualifies)
    marks = spark.createDataFrame([("́̂",), ("!!",)], "term string")
    assert [r["term"] for r in has_text_filter(marks).collect()] == ["́̂"]


def test_json_sink_roundtrip(spark, tmp_path):
    """K2: JSON sink writes one object per row; read-back equals input."""
    from language_identification_spark.sources.io import write_json

    df = spark.createDataFrame(
        [("en", "a", 3), ("zh", "b", 5)], "lang string, gram string, n long"
    )
    out = str(tmp_path / "agg_json")
    write_json(df, out)
    back = spark.read.json(out)
    assert sorted(
        (r["lang"], r["gram"], r["n"]) for r in back.collect()
    ) == [("en", "a", 3), ("zh", "b", 5)]


def test_find_words_f7():
    """F7 (datasets/tmp.py:18-32): letters+marks only — digits split words,
    unlike unicode_tokenize which keeps them."""
    from language_identification_spark.oracle.tokenize import (
        find_words,
        unicode_tokenize,
    )

    assert find_words("a1b c42 naïve") == ["a", "b", "c", "naïve"]
    assert unicode_tokenize("a1b c42") == ["a1b", "c42"]
    assert find_words("") == []
    assert find_words("123 456") == []


def test_multimodal_frame_sampling(spark):
    """sample_frames: 1->N exploded frame rows for video, per-row error
    capture for non-video/null, deterministic content-derived features,
    narrow map (no exchange)."""
    from language_identification_spark.operators.multimodal import (
        FEATURE_DIM,
        fake_media_df,
        sample_frames,
    )

    media = fake_media_df(spark, 40)
    out = sample_frames(media, every_n_bytes=32, max_frames=4)
    rows = out.collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    videos = {
        r["doc_id"]: r["media"]
        for r in media.collect()
        if r["media_type"] == "video/mp4"
    }
    for doc_id, blob in videos.items():
        frames = sorted(by_doc[doc_id], key=lambda r: r["frame_idx"])
        if blob is None:
            assert frames[0]["decode_error"] == "null_media"
            continue
        expect_n = min(4, max(1, len(bytes(blob)) // 32))
        assert len(frames) == expect_n
        assert [f["frame_idx"] for f in frames] == list(range(expect_n))
        assert all(len(f["features"]) == FEATURE_DIM for f in frames)
        assert all(f["decode_error"] is None for f in frames)
    # non-video rows emit exactly one error row
    non_video = [r for r in rows if r["decode_error"] and r["decode_error"].startswith("not_video")]
    assert non_video and all(r["frame_idx"] == -1 for r in non_video)
    # determinism across runs (task-retry safety)
    rows2 = sample_frames(media, every_n_bytes=32, max_frames=4).collect()
    key = lambda r: (r["doc_id"], r["frame_idx"])  # noqa: E731
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # narrow map: every Exchange occurrence (if any) must be a broadcast —
    # a shuffle Exchange line would contain 'Exchange' without 'Broadcast'
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffle_lines = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert not shuffle_lines, shuffle_lines


def test_streaming_near_dup_matches_batch(spark, tmp_path):
    """Streaming stateful near-dup == the batch banding pipeline on the same
    rows: (1) the per-row Python simhash equals the batch 60-bit expression
    values; (2) the emitted match pairs (deduped across bands) equal the
    batch candidate pairs at hamming <= 3."""
    from language_identification_spark.queries import (
        _simhash_near_dup_pairs,
        q_simhash,
    )
    from language_identification_spark.streaming.jobs import (
        run_stream_once,
        simhash60,
        streaming_near_dup,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # (1) fingerprint parity, python-per-row vs batch JVM expression
    batch_sim = {r["doc_id"]: r["simhash"] for r in q_simhash(spark, sf_dir).collect()}
    for r in docs.limit(50).collect():
        assert simhash60(r["text"]) == batch_sim[r["doc_id"]], r["doc_id"]

    # (2) pair parity through the real stateful stream
    src = str(tmp_path / "docs_stream")
    docs.write.mode("overwrite").parquet(src)
    stream = streaming_near_dup(spark, src)
    got = run_stream_once(stream, str(tmp_path / "ckpt_nd"), "near_dup")
    got_pairs = {
        (min(r["doc_id"], r["dup_of"]), max(r["doc_id"], r["dup_of"]))
        for r in got.collect()
    }
    want_pairs = {
        (r["x"], r["y"]) for r in _simhash_near_dup_pairs(spark, sf_dir).collect()
    }
    assert got_pairs == want_pairs


def test_simhash60_whitespace_and_empty_parity(spark):
    """simhash60 must match the batch q_simhash on whitespace edge cases:
    the batch splits on SINGLE SPACES only ('foo\\tbar' is ONE word), and
    wordless docs produce NO batch row (simhash60 returns None)."""
    from language_identification_spark.queries import q_simhash
    from language_identification_spark.streaming.jobs import simhash60

    rows = [
        (0, "foo\tbar", "en", "s", 7),
        (1, "foo bar", "en", "s", 7),
        (2, "a\nb c", "en", "s", 5),
        (3, "", "en", "s", 0),
        (4, "   ", "en", "s", 3),
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        batch = {r["doc_id"]: r["simhash"] for r in q_simhash(spark, d).collect()}
    # docs 3 and 4 are wordless: no batch row, simhash60 -> None
    assert set(batch) == {0, 1, 2}
    for doc_id, text, *_ in rows:
        assert simhash60(text) == batch.get(doc_id), (doc_id, text)
    assert simhash60(None) is None
    # tab vs space: different fingerprints (tab-joined is one word)
    assert simhash60("foo\tbar") != simhash60("foo bar")
