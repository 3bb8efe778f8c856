"""Random-hyperplane LSH candidate generation (the embedding scale path)."""

import numpy as np

from language_identification_spark.operators.similarity import lsh_bucket_pairs


def _planted_df(spark, n_base=60, n_dups=10, dim=16, seed=5):
    """Base vectors plus near-duplicates (tiny perturbations) with known ids:
    dup of vector i gets id 1000+i."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n_base)]
    for i in range(n_dups):
        dup = base[i] + rng.standard_normal(dim) * 1e-3
        rows.append((1000 + i, [float(x) for x in dup]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), n_base, n_dups


def test_lsh_finds_planted_near_dups(spark):
    df, n_base, n_dups = _planted_df(spark)
    pairs = {(r["a"], r["b"]) for r in lsh_bucket_pairs(df).collect()}
    # every planted duplicate pair must be a candidate (cosine ~0.9999 ->
    # identical sign pattern in at least one band for this seed/data,
    # deterministic because data, planes seed, and plan are all fixed)
    missing = [(i, 1000 + i) for i in range(n_dups) if (i, 1000 + i) not in pairs]
    assert not missing, missing


def test_lsh_prunes_the_pair_space(spark):
    df, n_base, n_dups = _planted_df(spark)
    n = n_base + n_dups
    all_pairs = n * (n - 1) // 2
    n_candidates = lsh_bucket_pairs(df).count()
    # the whole point: candidates are a small fraction of all pairs
    assert n_candidates < all_pairs * 0.35, (n_candidates, all_pairs)


def test_lsh_deterministic(spark):
    df, *_ = _planted_df(spark)
    a = sorted((r["a"], r["b"]) for r in lsh_bucket_pairs(df).collect())
    b = sorted((r["a"], r["b"]) for r in lsh_bucket_pairs(df).collect())
    assert a == b


def test_lsh_bucket_cap_excludes_hot_buckets(spark):
    """max_bucket_size (the stop-shingle defense): a planted hot bucket —
    many near-identical vectors sharing every band signature — is excluded
    from candidate generation under the cap, and the audit query reports
    exactly the oversized buckets."""
    import numpy as np

    from language_identification_spark.operators.similarity import (
        lsh_oversized_buckets,
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal(16)
    rows = []
    # 60 near-copies of one vector = a hot bucket in every band
    for i in range(60):
        v = base + rng.standard_normal(16) * 1e-3
        rows.append((i, [float(x) for x in v]))
    # plus unrelated background vectors
    for i in range(60, 160):
        rows.append((i, [float(x) for x in rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    uncapped = lsh_bucket_pairs(df).count()
    capped = lsh_bucket_pairs(df, max_bucket_size=30).count()
    # the hot cluster alone contributes 60*59/2 = 1770 pairs; capping must
    # remove them (and only bucket-level removals, nothing random)
    assert capped < uncapped - 1500, (capped, uncapped)
    audit = lsh_oversized_buckets(df, max_bucket_size=30).collect()
    assert audit and all(r["n_members"] > 30 for r in audit)
    # audited buckets are exactly where the 60 hot vectors live
    assert max(r["n_members"] for r in audit) >= 60


def test_semdedup_finds_injected_near_copies(spark):
    """SemDeDup gate semantics: the deterministically injected near-copies
    (id+100000) must pair with their source at cos ~ 1 within the same
    cell; near-orthogonal originals must never pair. One copy may straddle
    a cluster boundary (the documented SemDeDup recall trade), so >= 8 of
    10 injected pairs must surface."""
    from language_identification_spark.registry import queries

    QUERIES = queries()

    rows = QUERIES["semdedup"](spark, "/root/testdata/sf0.01").collect()
    assert all(r.cos >= 0.95 for r in rows)
    injected = {(r.keep_id, r.drop_id) for r in rows if r.drop_id >= 100000}
    assert all(d - 100000 == k for k, d in injected)
    assert len(injected) >= 8
    # no false pairs among originals (max original-pair cos is ~0.49)
    assert all(r.drop_id >= 100000 for r in rows)


def test_semdedup_corpus_never_shuffles_onto_centroid_key(spark):
    """Assignment must be broadcast-centroids + max_by partial agg (the
    ivf_topk shape) — no exchange keyed on cid; the only algorithmic
    exchanges are the vec_id assignment agg and the cell self-join."""
    from language_identification_spark.registry import queries

    QUERIES = queries()

    plan = (
        QUERIES["semdedup"](spark, "/root/testdata/sf0.01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    assert "partial_max_by" in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "cid" not in ln.split("Exchange")[1], ln
