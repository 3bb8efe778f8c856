"""Unit tests for operators/textnorm.py, the banding planner, and
latest_snapshot — the edge cases the sf-corpus gates cover only
statistically: NFC fixed points, combining-sequence composition, the
soft-404 length guard, planner argmin identity, and recency tie-breaks."""

import unicodedata

from pyspark.sql import Row
from pyspark.sql import functions as F

from language_identification_spark.operators.minhash import plan_bands
from language_identification_spark.operators.textnorm import (
    SOFT404_PHRASES,
    nfc_audit,
    soft404_flag,
)
from language_identification_spark.operators.urlnorm import latest_snapshot


def _audit(spark, text):
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    return nfc_audit(df).first()


def test_nfc_composes_combining_acute(spark):
    r = _audit(spark, "café")
    assert r.changed is True
    assert r.n_chars_raw == 5 and r.n_chars_nfc == 4


def test_nfc_ascii_is_fixed_point(spark):
    r = _audit(spark, "plain ascii text")
    assert r.changed is False
    assert r.n_chars_raw == r.n_chars_nfc


def test_nfc_precomposed_unchanged(spark):
    r = _audit(spark, "caf\u00e9")
    assert r.changed is False and r.n_chars_nfc == 4


def test_nfc_hash_matches_python_unicodedata(spark):
    import hashlib

    s = "Ångström and café"
    r = _audit(spark, s)
    want = hashlib.md5(
        unicodedata.normalize("NFC", s).encode("utf-8")
    ).hexdigest()
    assert r.nfc_md5 == want


def _flag(spark, text, max_words=60):
    df = spark.createDataFrame([Row(text=text)])
    n, p, f = soft404_flag(F.col("text"), max_words)
    return df.select(
        n.alias("n"), p.alias("p"), f.alias("f")
    ).first()


def test_soft404_short_error_page_flagged(spark):
    r = _flag(spark, "Error 404 - Page Not Found")
    assert r.f is True and r.p == "page not found"  # first in list order


def test_soft404_long_page_quoting_404_not_flagged(spark):
    long_text = "word " * 100 + "the server said error 404 once"
    r = _flag(spark, long_text)
    assert r.p == "error 404" and r.f is False


def test_soft404_clean_page(spark):
    r = _flag(spark, "an ordinary article about cats")
    assert r.p is None and r.f is False


def test_soft404_phrase_priority_is_list_order(spark):
    # both phrases present -> earliest list entry reported
    r = _flag(spark, "access denied: this page does not exist")
    assert r.p == "does not exist"
    assert SOFT404_PHRASES.index("does not exist") < SOFT404_PHRASES.index(
        "access denied"
    )


def test_plan_bands_argmin_is_inverse_threshold(spark):
    rows = {(r.b, r.r): r for r in plan_bands(spark, 112, 4, 5, 16).collect()}
    chosen = [k for k, v in rows.items() if v.chosen]
    # b = round(1/0.8^r) for the r where b*r <= 112 fits best: 6*8
    assert chosen == [(6, 8)]
    # exact integers: t^8 in ppm = floor(1e6 * 4^8 / 5^8)
    assert rows[(6, 8)].tr_ppm == 1000000 * 4**8 // 5**8 == 167772
    # the production 14x8 row exists and its collision prob at t is high
    assert rows[(14, 8)].p_at_t_ppm > 900000
    # every row respects the budget
    assert all(b * r <= 112 for b, r in rows)


def test_plan_bands_p_at_t_monotone_in_b(spark):
    rows = plan_bands(spark, 112, 4, 5, 16).collect()
    by_r = {}
    for r in rows:
        by_r.setdefault(r.r, []).append((r.b, r.p_at_t_ppm))
    for r, pairs in by_r.items():
        pairs.sort()
        ps = [p for _, p in pairs]
        assert ps == sorted(ps), f"p_at_t not monotone in b for r={r}"


def test_latest_snapshot_keeps_max_ts_min_id_tie(spark):
    df = spark.createDataFrame(
        [
            Row(url="u1", snap_h=5, doc_id=10),
            Row(url="u1", snap_h=9, doc_id=11),
            Row(url="u2", snap_h=7, doc_id=20),
            Row(url="u2", snap_h=7, doc_id=21),  # tie -> min doc_id wins
            Row(url="u3", snap_h=1, doc_id=30),
        ]
    )
    out = {
        r.url: r for r in latest_snapshot(df, "url", "snap_h").collect()
    }
    assert out["u1"].doc_id == 11 and out["u1"].snap_h == 9
    assert out["u2"].doc_id == 20 and out["u2"].n_snapshots == 2
    assert out["u3"].n_snapshots == 1


def test_url_latest_snapshot_gate_with_ids_past_2_32(spark, tmp_path):
    """The gate's capture-hour hash reduces doc_id mod 8191 before the
    Knuth multiply, so ids whose raw product passes 2^63 give the same rows
    in Spark and in the DuckDB oracle. 96, 2^32 and 2^32+200 share a url."""
    import duckdb

    from language_identification_spark.queries_textops import (
        SQL_URL_LATEST_SNAPSHOT,
        q_url_latest_snapshot,
    )

    ids = [0, 1, 96, 200, 8191, 2**32, 2**32 + 200, 2**40 + 7, 2**62 + 400, 2**63 - 1]
    rows = [(i, "t") for i in ids]
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = sorted(
        tuple(int(v) if k != "url" else v for k, v in r.asDict().items())
        for r in q_url_latest_snapshot(spark, str(tmp_path))
        .select("url", "doc_id", "snap_h", "n_snapshots")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        (u, int(d), int(h), int(n))
        for u, d, h, n in con.execute(
            f"SELECT url, doc_id, snap_h, n_snapshots FROM ({SQL_URL_LATEST_SNAPSHOT})"
        ).fetchall()
    )
    assert got == want
    assert [r for r in got if r[0] == "site21.example.com/p96"][0][3] == 3


def test_wilson_bounds_match_reference_formula(spark):
    import math

    from language_identification_spark.operators.hoststats import (
        wilson_bounds_ppm,
    )

    def wilson(k, n, z=1.96, sign=1):
        p = k / n
        return (
            (p + z * z / (2 * n))
            + sign * (z * math.sqrt((p * (1 - p)) / n + z * z / (4 * n * n)))
        ) / (1 + z * z / n)

    df = spark.createDataFrame(
        [Row(n_keep=1, n_docs=2), Row(n_keep=9000, n_docs=10000),
         Row(n_keep=0, n_docs=7), Row(n_keep=5, n_docs=5)]
    )
    lb, ub = wilson_bounds_ppm()
    rows = df.select("n_keep", "n_docs", lb.alias("lb"), ub.alias("ub")).collect()
    for r in rows:
        want_lb = math.floor(1e6 * wilson(r.n_keep, r.n_docs, sign=-1))
        want_ub = math.floor(1e6 * wilson(r.n_keep, r.n_docs, sign=1))
        assert abs(r.lb - want_lb) <= 1, (r, want_lb)
        assert abs(r.ub - want_ub) <= 1, (r, want_ub)
    by = {(r.n_keep, r.n_docs): r for r in rows}
    # the small-sample correction: 5/5 must NOT outrank 9000/10000
    assert by[(5, 5)].lb < by[(9000, 10000)].lb
    # bounds bracket the point estimate
    for (k, n), r in by.items():
        assert r.lb <= 1e6 * k / n <= r.ub


def test_crawl_delta_all_classes(spark):
    from language_identification_spark.queries_textops import q_crawl_delta

    out = {r.doc_id: r.status for r in
           q_crawl_delta(spark, "/root/testdata/sf0.001").collect()}
    # doc_id=1: in B (1%3!=0) not in A (1%7==1) -> added
    assert out[1] == "added"
    # doc_id=3: in A, not in B (3%3==0) -> removed
    assert out[3] == "removed"
    # doc_id=5: in both, revised in B (5%5==0) -> changed
    assert out[5] == "changed"
    # doc_id=2: in both, untouched -> unchanged
    assert out[2] == "unchanged"
    # doc_id=0: A yes (0%7!=1), B no (0%3==0) -> removed
    assert out[0] == "removed"


def test_waterfill_closed_form_matches_iterative(spark):
    """The windowless prefix-test allocation must equal the classic
    iterative peel-the-saturated-prefix algorithm on a skewed fixture."""
    from language_identification_spark.operators.mixer import (
        waterfill_allocation,
    )

    src = [("a", 100, 10), ("b", 1000, 10), ("c", 50, 5), ("d", 10000, 20)]
    budget = 4000

    # reference: iterative waterfilling with the EXACT-rational saturation
    # test (a * w_tot <= remaining * w) — the floored-ppm variant diverges
    # at exact boundaries (see tests/test_properties_curation.py)
    remaining, live = budget, dict((k, (a, w)) for k, a, w in src)
    sat = {}
    while True:
        w_tot = sum(w for _, w in live.values())
        newly = {k for k, (a, w) in live.items()
                 if a * w_tot <= remaining * w}
        if not newly:
            break
        for k in newly:
            a, w = live.pop(k)
            sat[k] = a
            remaining -= a
        if not live:
            break
    want = dict(sat)
    if live:
        w_tot = sum(w for _, w in live.values())
        r = (remaining * 1_000_000) // w_tot
        for k, (a, w) in live.items():
            want[k] = r * w // 1_000_000

    df = spark.createDataFrame(src, "key string, avail long, weight long")
    got = {
        r.key: (r.alloc, r.saturated)
        for r in waterfill_allocation(df, F.lit(budget)).collect()
    }
    for k, alloc in want.items():
        assert got[k][0] == alloc, (k, got[k], alloc)
    assert got["c"][1] is True  # tiny source capped
    assert got["d"][1] is False  # big source takes the surplus
    assert sum(a for a, _ in got.values()) <= budget


def test_waterfill_budget_exceeds_supply(spark):
    from language_identification_spark.operators.mixer import (
        waterfill_allocation,
    )

    df = spark.createDataFrame(
        [("a", 10, 1), ("b", 20, 1)], "key string, avail long, weight long"
    )
    rows = {r.key: r for r in waterfill_allocation(df, F.lit(1000)).collect()}
    assert all(r.saturated for r in rows.values())
    assert rows["a"].alloc == 10 and rows["b"].alloc == 20
    assert all(r.r_ppm is None for r in rows.values())


class TestLenientPagesReader:
    def _write(self, spark, tmpdir, df):
        p = f"{tmpdir}/pages"
        df.write.mode("overwrite").parquet(p)
        return p

    def test_missing_and_extra_columns(self, spark, tmp_path):
        from language_identification_spark.sources.io import (
            read_pages_lenient,
        )

        df = spark.createDataFrame(
            [("u1", "hello", "crawl-7")],
            "url string, text string, dump_id string",  # no warc_ts/html/lang
        )
        p = self._write(spark, tmp_path, df)
        out = read_pages_lenient(spark, p)
        assert out.columns == ["url", "warc_ts", "html", "text", "lang",
                               "dump_id"]
        r = out.first()
        assert r.url == "u1" and r.warc_ts is None and r.html is None
        assert r.dump_id == "crawl-7"

    def test_string_timestamp_coerces(self, spark, tmp_path):
        from language_identification_spark.sources.io import (
            read_pages_lenient,
        )

        df = spark.createDataFrame(
            [("u1", "2024-03-01 12:00:00", "t", "en")],
            "url string, warc_ts string, text string, lang string",
        )
        p = self._write(spark, tmp_path, df)
        r = read_pages_lenient(spark, p).first()
        assert r.warc_ts is not None and r.warc_ts.year == 2024

    def test_incompatible_type_raises_with_column_name(self, spark, tmp_path):
        import pytest

        from language_identification_spark.sources.io import (
            read_pages_lenient,
        )

        df = spark.createDataFrame(
            [("u1", 3.14)], "url string, text double"
        )
        p = self._write(spark, tmp_path, df)
        with pytest.raises(ValueError, match="'text'.*incompatible|incompatible.*'text'"):
            read_pages_lenient(spark, p)

    def test_exact_schema_is_identity(self, spark, tmp_path):
        from language_identification_spark.fixtures import pages_df
        from language_identification_spark.sources.io import (
            read_pages,
            read_pages_lenient,
        )

        p = self._write(spark, tmp_path, pages_df(spark, 20))
        strict = read_pages(spark, p).orderBy("url").collect()
        lenient = read_pages_lenient(spark, p).orderBy("url").collect()
        assert strict == lenient


def test_compat_fold_fullwidth_and_controls(spark):
    from language_identification_spark.operators.textnorm import compat_fold

    df = spark.createDataFrame(
        [
            (1, "Ｈｅｌｌｏ　１２３"),
            (2, "bell\x07 and esc\x1b here"),
            (3, "already plain ascii"),
            (4, "tabs\tand\nnewlines survive"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in compat_fold(df).collect()}
    import hashlib

    assert out[1].changed and out[1].n_chars_folded == 9
    want = hashlib.md5("Hello 123".encode()).hexdigest()
    assert out[1].folded_md5 == want
    assert out[2].changed and out[2].n_chars_folded == len("bell and esc here")
    assert not out[3].changed
    assert not out[4].changed  # \t \n are NOT in the strip class


def test_incremental_requalify_semantics(spark):
    from language_identification_spark.queries_textops import (
        q_incremental_requalify,
    )

    out = {r.doc_id: r for r in
           q_incremental_requalify(spark, "/root/testdata/sf0.001").collect()}
    # removed docs (in A only) are absent: doc_id=3 is in A, not B
    assert 3 not in out
    # added doc (B only): recomputed, keep == rule on B text
    assert out[1].status == "added" and out[1].recomputed
    # unchanged doc: verdict carried, not recomputed
    assert out[2].status == "unchanged" and not out[2].recomputed
    # changed doc (revised in B): recomputed
    assert out[5].status == "changed" and out[5].recomputed
    # every unchanged row's keep equals its prev (rule is deterministic
    # on identical text, so carried == recomputed-on-same-text)
    assert all(r.recomputed == (r.status != "unchanged") for r in out.values())


def test_containment_finds_excerpt_jaccard_misses(spark):
    """A short excerpt inside a long doc: containment 1.0 but symmetric
    Jaccard far below 0.8 — the pair the containment join exists for."""
    from language_identification_spark.queries_textops import (
        q_containment_join,
    )

    rows = q_containment_join(spark, "/root/testdata/sf0.001").collect()
    pairs = {(r.src, r.dst): r.containment_ppm for r in rows}
    # every excerpt twin (id = parent + 10000000) must be fully contained
    excerpts = [(s, d) for (s, d) in pairs if s >= 10000000 and d == s - 10000000]
    assert excerpts, "no excerpt pairs surfaced"
    assert all(pairs[p] == 1000000 for p in excerpts)
    # and the reverse direction (parent contained in excerpt) never fires
    assert all((d, s) not in pairs for (s, d) in excerpts)


def test_ngram_novelty_duplicate_doc_scores_zero(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from language_identification_spark.queries_textops import SQL_NGRAM_NOVELTY  # noqa: F401
    from language_identification_spark.functions import word_ngrams_expr

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (3, "a completely different sentence about ships at sea"),
        ],
        "doc_id long, text string",
    )
    sh = df.select("doc_id", F.explode(word_ngrams_expr("text", 3)).alias("sh")).distinct()
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    out = {
        r.doc_id: r
        for r in sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)).alias("nov"),
        )
        .collect()
    }
    assert out[1].nov == out[1].n          # first copy: fully novel
    assert out[2].nov == 0                 # exact dup: zero novelty
    assert out[3].nov == out[3].n          # unrelated doc: fully novel
