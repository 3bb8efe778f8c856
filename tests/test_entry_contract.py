"""Driver contract for __spark_entry__: entry/queries/oracle_sql shape."""

import __spark_entry__ as e


def test_oracle_keys_subset_of_queries():
    qs = e.queries()
    sqls = e.oracle_sql()
    missing = set(sqls) - set(qs)
    assert not missing, f"oracle_sql keys without queries(): {missing}"
    # round 3 closed the last gap: EVERY queries() entry has a DuckDB
    # oracle (the flagship, multimodal, word/char-KN and positional-EMD
    # entries were the round-2 rows-only holdouts)
    no_oracle = set(qs) - set(sqls)
    assert no_oracle == set(), no_oracle


def test_registry_head_is_declared_and_each_gate_declared_once():
    """A sampled correctness run checks the first 50 registry entries, so
    the head is a choice (registry.HEAD): the flagship pipeline first.
    Every gate name is a key in exactly one family mapping."""
    from language_identification_spark import registry

    names = list(e.queries())
    assert names[0] == "quality_pipeline"
    assert names[: len(registry.HEAD)] == list(registry.HEAD)
    assert sum(len(f) for f in registry.FAMILIES) == len(names)


def test_entry_runs_and_schema_stable(spark):
    df = e.entry(spark)
    assert df.columns == [
        "url",
        "warc_ts",
        "extracted_text",
        "scrubbed_text",
        "lang_pred",
        "lang_conf",
        "ppl",
        "keep",
        "drop_reasons",
    ]
    rows = df.collect()
    assert len(rows) > 0
    kept = sum(r["keep"] for r in rows)
    assert 0 < kept < len(rows)  # both classes present on the testdata


def test_queries_run_at_smallest_sf(spark):
    """Every battery query must at least execute at sf0.001 (the driver's
    smoke scale) — exercises the short-text guards (sequence(1,0) etc.)."""
    qs = e.queries()
    for name, fn in qs.items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name
