"""corpus_curation composition: stage flags compose without drift."""

from language_identification_spark.registry import queries

QUERIES = queries()

SF = "/root/testdata/sf0.001"


def test_final_keep_is_the_stage_conjunction(spark):
    rows = QUERIES["corpus_curation"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.final_keep == (
            r.url_keep
            and not r.blocked
            and r.c4_keep
            and r.exact_keep
            and r.mix_keep
        ), r.doc_id


def test_stage_semantics(spark):
    rows = {r.doc_id: r for r in QUERIES["corpus_curation"](spark, SF).collect()}
    src = {
        r.doc_id: r.source
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    # python oracle for the url-dedup stage
    by_url = {}
    for doc_id in rows:
        host = (
            "bad.example.com"
            if doc_id % 5 == 0
            else f"{src[doc_id]}.example.com"
        )
        url = (
            f"http://mirror.example.com/p/{doc_id // 28}"
            if doc_id % 7 == 0
            else f"http://{host}/p/{doc_id}"
        )
        by_url.setdefault(url, []).append(doc_id)
    losers = {
        d for ids in by_url.values() for d in ids if d != min(ids)
    }
    assert losers  # the dedup branch actually fired
    for doc_id, r in rows.items():
        assert r.blocked == (doc_id % 5 == 0)
        assert r.url_keep == (doc_id not in losers), doc_id
        assert r.split in ("train", "val", "test")


def test_split_and_mix_are_deterministic(spark):
    a = {r.doc_id: (r.split, r.mix_keep) for r in QUERIES["corpus_curation"](spark, SF).collect()}
    b = {r.doc_id: (r.split, r.mix_keep) for r in QUERIES["corpus_curation"](spark, SF).collect()}
    assert a == b
    splits = [s for s, _ in a.values()]
    assert 0.6 < splits.count("train") / len(splits) < 0.95
