"""Regenerate PLANS.md: formatted physical plans of the flagship flows with
the scale-relevant properties called out. Run: python tools/dump_plans.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

COMMENTARY = {
    "quality_pipeline": """\
What to look for: ONE ArrowEvalPython node (stats+langid+ppl fused — each
extra node is a full JVM<->Python round trip); exactly ONE Exchange, and it
is the pipeline's own crc32(url) uniform re-spread (the host-skew salting of
SURVEY.md 4.2) BELOW the Python stage — everything above it is narrow; rule
evaluation and the scrub regex chain run as native projections above the
Python stage (whole-stage codegen).""",
    "minhash_signatures": """\
What to look for: Generate (the shingle explode) ABOVE the round-robin
Exchange — the md5-heavy map stage runs at cluster width even when the scan
is one split; HashAggregate pair for the distinct; the signature min-agg's
partial/final pair.""",
    "ivf_topk": """\
What to look for (round-2 fix): the centroid assignment is a
partial-aggregate pair around the exchange — SortAggregate(partial) BELOW
the Exchange combines the N x K centroid product down to N rows map-side
(round 1 shuffled all N x K rows through a window just to take row 1); the
cell probe join is a BroadcastHashJoin with the 10-row query side as the
build (no shuffle of the corpus onto the K-cardinality, maximally skewed,
cell key).""",
    "embedding_near_dup": """\
What to look for (round-2 fix): NO driver collect anywhere — candidate
generation is the banded signature self-join (plane dots materialized once
behind their own Exchange so both join sides reuse them), the exact rerank
touches candidates only via BroadcastHashJoins against the per-vector
norm table, and the final top-N is TakeOrderedAndProject (per-partition
local top-N + driver merge of N rows), not a single-partition global
window.""",
    "deseret_translit": """\
What to look for: ZERO exchanges and zero Python evaluators — the whole
F14 transliteration (weird-font translate + 76-entry phoneme map transform)
is one narrow Project inside WholeStageCodegen directly over the scan; a
per-column operator that costs a single pass at any corpus size.""",
    "textcat_langid": """\
What to look for: the distance join is doc_prof x BroadcastNestedLoop(langs,
a 5-row dim) x BroadcastHashJoin(profiles, |langs| x K rows) — the corpus
side never shuffles onto the language key; the per-doc profile costs two
count-shaped exchanges ((doc_id, gram) agg with map-side partials over the
raw instances, then the doc_id rank window — counts, never instances, cross
the wire); the (doc_id, lang) distance agg REUSES the window's doc_id
partitioning (subset clustering — no third exchange) with its partial
HashAggregate absorbing the |langs| x top_k fan-out map-side; no Python
evaluators anywhere.""",
    "langid_nb_rank": """\
What to look for: training is TWO corpus explode passes with only K-BOUNDED
caches — the feature top-K is computed from the global gram counts (never
cached: at web scale that table is billions of rows), then the per-lang
counts re-scan the corpus against the BROADCAST K-row feature set; the
InMemoryTableScans in the downstream branches are the K-row `features` and
K x |langs| `lang_counts` frames only. The scoring join is a
BroadcastHashJoin against the |langs| x K model; the doc list reuses the
gram-count exchange (distinct over dg) instead of re-scanning the corpus;
no Python evaluators anywhere.""",
    "term_cleanup": """\
What to look for: the whitespace-term explode (Generate) stays BELOW a
partial HashAggregate — exploded rows are combined map-side before either
of the two count_distinct exchanges ((norm, doc_id), then (norm)); no
Python anywhere; the only wide ops carry aggregated keys, never raw
terms.""",
}


def main() -> None:
    from language_identification_spark.session import get_spark

    import __spark_entry__ as e

    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    out = [
        "# PLANS — physical plans of the flagship flows\n",
        "Generated by `python tools/dump_plans.py` (sf0.001, local[8], AQE on).",
        "These are the plan shapes the engine is designed around; the",
        "properties called out per plan are pinned by tests/test_plans.py so",
        "they cannot silently regress.\n",
    ]
    for name in (
        "quality_pipeline",
        "minhash_signatures",
        "ivf_topk",
        "embedding_near_dup",
        "deseret_translit",
        "textcat_langid",
        "langid_nb_rank",
        "term_cleanup",
    ):
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n")
        out.append(COMMENTARY[name] + "\n")
        out.append("```\n" + plan.strip() + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()
    print("PLANS.md written")


if __name__ == "__main__":
    main()
