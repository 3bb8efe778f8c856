"""Gate battery extension: text canonicalization + crawl-hygiene operators.

Same contract as queries.py (builder(spark, sf_dir) + DuckDB oracle over
the same parquet views, fixtures synthesized identically in both engines).
``python -m language_identification_spark query list`` prints the inventory.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from language_identification_spark.operators.minhash import (
    plan_bands,
    plan_bands_sql,
)
from language_identification_spark.operators.textnorm import (
    SOFT404_PHRASES,
    nfc_audit,
    soft404_flag,
    synth_nonnfc_docs,
)
from language_identification_spark.operators.urlnorm import latest_snapshot
from language_identification_spark.functions import word_ngrams_expr
from language_identification_spark.queries import _spread, _t, _words

# --- NFC normalization audit ----------------------------------------------


def q_nfc_normalize_audit(spark, sf_dir):
    """Unicode NFC audit over the corpus with deterministically planted
    decomposed sequences (operators/textnorm.py docstring). Zero exchanges:
    narrow scan -> Arrow-batched pandas str.normalize -> md5. The gate
    hashes the normalized-text md5 per doc, so the Python (unicodedata)
    and DuckDB (utf8proc) NFC implementations are held bit-equal on every
    row — the strongest cross-engine contract available for this op."""
    docs = synth_nonnfc_docs(_spread(_t(spark, sf_dir, "documents")))
    return nfc_audit(docs)


SQL_NFC_NORMALIZE_AUDIT = r"""
WITH synth AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 4 = 1 THEN ' cafe' || chr(769)
           WHEN doc_id % 4 = 2
             THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
           WHEN doc_id % 4 = 3 THEN ' caf' || chr(233)
           ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       text <> nfc_normalize(text) AS changed,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
       md5(nfc_normalize(text)) AS nfc_md5
FROM synth
"""


# --- soft-404 / error-page filter -----------------------------------------


def q_soft404_filter(spark, sf_dir):
    """Soft-404 drop rule over the corpus with planted error pages:
    doc_id%13==0 -> whole text replaced by a short 'Error 404' template
    (must be flagged); doc_id%13==1 -> real text with an appended
    'no longer available' notice (phrase hit, but flagged ONLY if the doc
    is short — the length guard is the point of the rule). Pure narrow
    relational map, zero Python, zero exchanges."""
    did = F.col("doc_id")
    docs = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.when(
            did % 13 == 0,
            F.lit(
                "Error 404 - the page you requested was not found on "
                "this server."
            ),
        )
        .when(
            did % 13 == 1,
            F.concat(
                F.col("text"), F.lit(" this page is no longer available")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    n_words, phrase, is_404 = soft404_flag(F.col("text"))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        phrase.alias("matched_phrase"),
        is_404.alias("is_soft404"),
    )


_SQL_PHRASE_CASE = "CASE " + " ".join(
    f"WHEN contains(low, '{p}') THEN '{p}'" for p in SOFT404_PHRASES
) + " ELSE NULL END"

SQL_SOFT404_FILTER = rf"""
WITH synth AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 13 = 0
             THEN 'Error 404 - the page you requested was not found on this server.'
           WHEN doc_id % 13 = 1
             THEN text || ' this page is no longer available'
           ELSE text END AS text
  FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS n_words,
         lower(text) AS low
  FROM synth
)
SELECT doc_id, n_words,
       {_SQL_PHRASE_CASE} AS matched_phrase,
       ({_SQL_PHRASE_CASE}) IS NOT NULL AND n_words <= 60 AS is_soft404
FROM feat
"""


# --- MinHash banding planner ----------------------------------------------


def q_minhash_band_planner(spark, sf_dir):
    """Broder banding planner at the production budget (112 perms, t=0.8):
    every feasible (b, r) split scored in exact ppm integers. At t=0.8 the
    s50-optimal split is (b=6, r=8) — b = 1/t^r; the shipped 14x8
    (minhash_prod_*) uses the SAME r but more bands, i.e. it targets a
    LOWER s50 of (1/14)^(1/8) ~ 0.72, spending the full perm budget to
    push recall ABOVE the 0.8 design point (FineWeb's trade). Both rows
    are in the output with their exact S-curve numbers, so the gate pins
    that relationship, not just the argmin. Input tables unused (pure
    config math) but the full arithmetic is hash-checked vs SQL."""
    return plan_bands(spark, n_perms=112, t_num=4, t_den=5, max_r=16)


SQL_MINHASH_BAND_PLANNER = plan_bands_sql(
    n_perms=112, t_num=4, t_den=5, max_r=16
)


# --- URL recency dedup ----------------------------------------------------


def q_url_latest_snapshot(spark, sf_dir):
    """Keep-newest-capture per url. The documents table has no url/ts, so
    both are synthesized deterministically: url collides for doc_ids equal
    mod 200 (multi-snapshot groups at every SF), pseudo-random capture
    hour via a Knuth-multiplicative hash mod 8191 (ties possible ->
    min-doc_id tie-break is load-bearing). ONE short-key exchange,
    map-side-combinable max-struct election (operators/urlnorm.py)."""
    did = F.col("doc_id")
    snaps = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(
            F.lit("site"),
            (did % 25).cast("string"),
            F.lit(".example.com/p"),
            (did % 200).cast("string"),
        ).alias("url"),
        ((did * 2654435761) % 8191).cast("bigint").alias("snap_h"),
    )
    return latest_snapshot(snaps, "url", "snap_h", "doc_id")


SQL_URL_LATEST_SNAPSHOT = r"""
WITH snaps AS (
  SELECT doc_id,
         'site' || (doc_id % 25) || '.example.com/p' || (doc_id % 200)
           AS url,
         CAST((doc_id * 2654435761) % 8191 AS BIGINT) AS snap_h
  FROM documents
),
ranked AS (
  SELECT url, doc_id, snap_h,
         count(*) OVER (PARTITION BY url) AS n_snapshots,
         row_number() OVER (PARTITION BY url
                            ORDER BY snap_h DESC, doc_id ASC) AS rn
  FROM snaps
)
SELECT url, CAST(doc_id AS BIGINT) AS doc_id, snap_h,
       CAST(n_snapshots AS BIGINT) AS n_snapshots
FROM ranked WHERE rn = 1
"""


# --- lexical diversity ----------------------------------------------------


def q_lexical_diversity(spark, sf_dir):
    """Per-doc lexical-diversity quality signal: token count, type count,
    hapax count, type-token ratio and hapax share in ppm integers. Low
    TTR flags template/spam pages (the Gopher-adjacent diversity rule).
    One explode + two-level aggregate on shrinking keys — the (doc, word)
    partial agg is map-side combined, so shuffle rows are bounded by
    per-doc distinct words, not corpus token count."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    wc = (
        docs.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .withColumn("ttr_ppm", F.expr("1000000 * n_types div n_tokens"))
        .withColumn("hapax_ppm", F.expr("1000000 * n_hapax div n_tokens"))
    )


SQL_LEXICAL_DIVERSITY = r"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
wc AS (
  SELECT doc_id, word, count(*) AS cnt
  FROM words WHERE word <> '' GROUP BY doc_id, word
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST((1000000 * count(*)) // sum(cnt) AS BIGINT) AS ttr_ppm,
       CAST((1000000 * sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)) // sum(cnt)
            AS BIGINT) AS hapax_ppm
FROM wc GROUP BY doc_id
"""


# --- Wilson-bounded host quality ranking ----------------------------------


def q_host_quality_wilson(spark, sf_dir):
    """Per-host keep-rate ranking with the Wilson small-sample correction
    (operators/hoststats.py:wilson_bounds_ppm): crawl prioritization must
    not rank a 2-doc host's 2/2 above a 10k-doc host's 0.9 — the lower
    bound fixes that; the upper bound is the quarantine signal. Keep flag
    is a real rule (>= 40 words), host synthesized doc_id%25 (the
    hoststats convention). ONE host-grain exchange, map-side combined;
    all float work happens AFTER aggregation on |hosts| rows."""
    from language_identification_spark.operators.hoststats import (
        wilson_bounds_ppm,
    )

    docs = _spread(_t(spark, sf_dir, "documents"))
    flagged = docs.select(
        F.concat(F.lit("host"), (F.col("doc_id") % 25).cast("string")).alias(
            "host"
        ),
        (
            F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != ""))
            >= 40
        )
        .cast("int")
        .alias("keep"),
    )
    agg = flagged.groupBy("host").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("keep").cast("bigint").alias("n_keep"),
    )
    lb, ub = wilson_bounds_ppm("n_keep", "n_docs")
    return agg.select(
        "host",
        "n_docs",
        "n_keep",
        F.expr("1000000 * n_keep div n_docs").alias("keep_ppm"),
        lb.alias("wilson_lb_ppm"),
        ub.alias("wilson_ub_ppm"),
    )


def _sql_host_quality_wilson() -> str:
    from language_identification_spark.operators.hoststats import (
        wilson_sql_expr,
    )

    lb = wilson_sql_expr("n_keep", "n_docs", "1.96", "-")
    ub = wilson_sql_expr("n_keep", "n_docs", "1.96", "+")
    return rf"""
WITH flagged AS (
  SELECT 'host' || (doc_id % 25) AS host,
         CASE WHEN len(list_filter(string_split(text, ' '), w -> w <> ''))
                   >= 40 THEN 1 ELSE 0 END AS keep
  FROM documents
),
agg AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(keep) AS BIGINT) AS n_keep
  FROM flagged GROUP BY host
)
SELECT host, n_docs, n_keep,
       CAST((1000000 * n_keep) // n_docs AS BIGINT) AS keep_ppm,
       {lb} AS wilson_lb_ppm,
       {ub} AS wilson_ub_ppm
FROM agg
"""


SQL_HOST_QUALITY_WILSON = _sql_host_quality_wilson()


# --- incremental crawl delta ----------------------------------------------


def q_crawl_delta(spark, sf_dir):
    """Incremental crawl processing: classify every doc across two crawl
    snapshots as added / removed / changed / unchanged — the diff that
    decides how much of a new dump actually needs re-filtering (the
    Iceberg incremental-read pattern, engine-neutral). Snapshot A =
    doc_id%7 != 1, snapshot B = doc_id%3 != 0, with B's text revised for
    doc_id%5 == 0; membership + revision all doc_id-mod driven so the
    oracle replays them exactly. ONE full-outer join on the id key (both
    sides pre-pruned narrow scans); content compare via md5."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    a = docs.where(did % 7 != 1).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("hash_a")
    )
    b = docs.where(did % 3 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                did % 5 == 0, F.concat(F.col("text"), F.lit(" rev2"))
            )
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("hash_b"),
    )
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("hash_a").isNull(), F.lit("added"))
        .when(F.col("hash_b").isNull(), F.lit("removed"))
        .when(F.col("hash_a") == F.col("hash_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("doc_id", status.alias("status"))


SQL_CRAWL_DELTA = r"""
WITH a AS (
  SELECT doc_id, md5(text) AS hash_a FROM documents WHERE doc_id % 7 <> 1
),
b AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END)
           AS hash_b
  FROM documents WHERE doc_id % 3 <> 0
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN hash_a IS NULL THEN 'added'
            WHEN hash_b IS NULL THEN 'removed'
            WHEN hash_a = hash_b THEN 'unchanged'
            ELSE 'changed' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
"""


# --- token-budget waterfilling --------------------------------------------


def q_token_budget_waterfill(spark, sf_dir):
    """Data-mix waterfilling (operators/mixer.py:waterfill_allocation):
    allocate a 40%-of-corpus token budget across languages with
    sqrt-flattened weights (XLM-R alpha=0.5 family: weight =
    floor(sqrt(avail))), capping every language at its available tokens
    and re-flowing surplus to the rest — closed-form prefix test, no
    iteration, windowless (dim self-join prefix sums). Corpus is touched
    ONCE (per-lang token-count agg); everything after runs on |langs|
    rows. sqrt is IEEE-exactly-rounded so the integer weight — and every
    downstream exact-rational comparison — hash-matches DuckDB."""
    from language_identification_spark.operators.mixer import (
        waterfill_allocation,
    )

    docs = _spread(_t(spark, sf_dir, "documents"))
    # deterministic skew multiplier so BOTH waterfill branches fire at
    # every SF: one dominant source (stays unsaturated) and capped minors
    mult = (
        F.when(F.col("lang") == "en", F.lit(50))
        .when(F.col("lang") == "zh", F.lit(1))
        .otherwise(F.lit(5))
    )
    counts = (
        docs.select(
            "lang",
            F.size(
                F.filter(F.split(F.col("text"), " "), lambda w: w != "")
            ).alias("n_tok"),
        )
        .groupBy("lang")
        .agg(F.sum("n_tok").cast("long").alias("avail0"))
        .select(
            F.col("lang").alias("key"),
            (F.col("avail0") * mult).cast("long").alias("avail"),
        )
        .withColumn(
            "weight",
            F.expr("CAST(floor(sqrt(CAST(avail AS DOUBLE))) AS BIGINT)"),
        )
    )
    # budget = 40% of total available tokens; a_total is in scope at the
    # point the budget expression is evaluated (waterfill's totals join)
    out = waterfill_allocation(counts, F.expr("(4 * a_total) div 10"))
    return out.withColumnRenamed("key", "lang")


SQL_TOKEN_BUDGET_WATERFILL = r"""
WITH counts AS (
  SELECT lang AS key,
         CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
              * (CASE WHEN lang = 'en' THEN 50
                      WHEN lang = 'zh' THEN 1 ELSE 5 END)
              AS BIGINT) AS avail
  FROM documents GROUP BY lang
),
dim AS (
  SELECT key, avail,
         CAST(floor(sqrt(CAST(avail AS DOUBLE))) AS BIGINT) AS weight
  FROM counts WHERE CAST(floor(sqrt(CAST(avail AS DOUBLE))) AS BIGINT) > 0
),
tot AS (
  SELECT sum(weight) AS w_total, sum(avail) AS a_total,
         (4 * sum(avail)) // 10 AS budget
  FROM dim
),
sums AS (
  SELECT l.key, l.avail, l.weight,
         COALESCE(sum(r.avail), 0) AS a_prefix,
         COALESCE(sum(r.weight), 0) AS w_prefix
  FROM dim l LEFT JOIN dim r
    ON (r.avail * l.weight < l.avail * r.weight)
    OR (r.avail * l.weight = l.avail * r.weight AND r.key < l.key)
  GROUP BY l.key, l.avail, l.weight
),
flagged AS (
  SELECT s.*, tot.budget,
         (tot.w_total - s.w_prefix) AS w_suffix,
         s.avail * (tot.w_total - s.w_prefix)
           <= (tot.budget - s.a_prefix) * s.weight AS saturated
  FROM sums s, tot
),
level AS (
  SELECT sum(CASE WHEN saturated THEN avail ELSE 0 END) AS a_sat,
         sum(CASE WHEN saturated THEN 0 ELSE weight END) AS w_unsat
  FROM flagged
)
SELECT f.key AS lang,
       CAST(f.avail AS BIGINT) AS avail,
       CAST(f.weight AS BIGINT) AS weight,
       f.saturated,
       CAST(CASE WHEN f.saturated THEN f.avail
                 ELSE (((f.budget - l.a_sat) * 1000000) // l.w_unsat)
                      * f.weight // 1000000 END AS BIGINT) AS alloc,
       CAST(CASE WHEN l.w_unsat > 0
                 THEN ((f.budget - l.a_sat) * 1000000) // l.w_unsat
                 ELSE NULL END AS BIGINT) AS r_ppm
FROM flagged f, level l
"""






# --- width-fold + control-strip canonicalization --------------------------


def q_width_fold(spark, sf_dir):
    """Width-fold/control-strip audit (operators/textnorm.py:compat_fold)
    with planted fullwidth runs and control bytes: doc_id%5==1 appends a
    fullwidth-ASCII + ideographic-space phrase (must fold), %5==2 appends
    BEL/ESC/SOH control bytes (must strip), %5==3 appends fullwidth
    parens around halfwidth text (partial fold), else untouched. Pure
    codegen: translate + enumerated-class regexp_replace, zero Python,
    zero exchanges; the per-row folded-text md5 pins Spark's translate
    against DuckDB's bit-exactly."""
    from language_identification_spark.operators.textnorm import compat_fold

    did = F.col("doc_id")
    suffix = (
        F.when(
            did % 5 == 1,
            F.lit(
                "\u3000\uff28\uff45\uff4c\uff4c\uff4f\u3000"
                "\uff11\uff12\uff13\uff01"
            ),
        )
        .when(did % 5 == 2, F.lit(" ctl\x07\x1b\x01end"))
        .when(did % 5 == 3, F.lit(" \uff08test\uff09"))
        .otherwise(F.lit(""))
    )
    docs = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return compat_fold(docs)


def _sql_width_fold() -> str:
    from language_identification_spark.operators.textnorm import (
        WIDTH_FROM,
        WIDTH_TO,
    )

    frm = WIDTH_FROM.replace("'", "''")
    to = WIDTH_TO.replace("'", "''")
    ctrl = "[" + "\\x00-\\x08" + "\\x0B\\x0C" + "\\x0E-\\x1F" + "\\x7F]"
    return f"""
WITH synth AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 5 = 1 THEN chr(12288) || chr(65320) || chr(65349)
                || chr(65356) || chr(65356) || chr(65359) || chr(12288)
                || chr(65297) || chr(65298) || chr(65299) || chr(65281)
           WHEN doc_id % 5 = 2 THEN ' ctl' || chr(7) || chr(27) || chr(1)
                || 'end'
           WHEN doc_id % 5 = 3 THEN ' ' || chr(65288) || 'test' || chr(65289)
           ELSE '' END AS text
  FROM documents
),
folded AS (
  SELECT doc_id, text,
         regexp_replace(translate(text, '{frm}', '{to}'),
                        '{ctrl}', '', 'g') AS f
  FROM synth
)
SELECT doc_id,
       text <> f AS changed,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(f) AS BIGINT) AS n_chars_folded,
       md5(f) AS folded_md5
FROM folded
"""


SQL_WIDTH_FOLD = _sql_width_fold()




# --- incremental re-qualification -----------------------------------------


def q_incremental_requalify(spark, sf_dir):
    """The operational incremental-curation flow on top of crawl_delta:
    docs present in the new snapshot keep their PREVIOUS verdict when
    unchanged and are re-scored only when added or changed (removed docs
    drop out). Single pass: the delta join carries (prev_keep, new text
    hash-compare), and the verdict is a lazy CASE — for this relational
    rule (>= 40 words) per-row laziness is the right prune; for a
    Python-stage scorer you would stage-filter status != 'unchanged'
    before the UDF so unchanged rows never reach the Arrow boundary
    (the plans/pipeline.py composition supports exactly that). Same
    exchange shape as crawl_delta: ONE full-outer join on pre-hashed
    narrow sides; the A side additionally carries its (cheap) prior
    verdict computed below the join."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    did = F.col("doc_id")

    def rule(col):
        return F.size(F.filter(F.split(col, " "), lambda w: w != "")) >= 40

    a = docs.where(did % 7 != 1).select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("hash_a"),
        rule(F.col("text")).alias("prev_keep"),
    )
    b_text = (
        F.when(did % 5 == 0, F.concat(F.col("text"), F.lit(" rev2")))
        .otherwise(F.col("text"))
    )
    b = docs.where(did % 3 != 0).select(
        "doc_id",
        F.md5(b_text.cast("binary")).alias("hash_b"),
        rule(b_text).alias("new_keep"),
    )
    j = a.join(b, "doc_id", "full_outer").where(F.col("hash_b").isNotNull())
    status = (
        F.when(F.col("hash_a").isNull(), F.lit("added"))
        .when(F.col("hash_a") == F.col("hash_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        "doc_id",
        status.alias("status"),
        F.when(status == "unchanged", F.col("prev_keep"))
        .otherwise(F.col("new_keep"))
        .alias("keep"),
        (status != "unchanged").alias("recomputed"),
    )


SQL_INCREMENTAL_REQUALIFY = r"""
WITH a AS (
  SELECT doc_id, md5(text) AS hash_a,
         len(list_filter(string_split(text, ' '), w -> w <> '')) >= 40
           AS prev_keep
  FROM documents WHERE doc_id % 7 <> 1
),
b AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END)
           AS hash_b,
         len(list_filter(string_split(
               CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END,
               ' '), w -> w <> '')) >= 40 AS new_keep
  FROM documents WHERE doc_id % 3 <> 0
),
j AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, hash_a, hash_b,
         prev_keep, new_keep
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
  WHERE hash_b IS NOT NULL
)
SELECT doc_id,
       CASE WHEN hash_a IS NULL THEN 'added'
            WHEN hash_a = hash_b THEN 'unchanged'
            ELSE 'changed' END AS status,
       CASE WHEN hash_a IS NOT NULL AND hash_a = hash_b THEN prev_keep
            ELSE new_keep END AS keep,
       NOT (hash_a IS NOT NULL AND hash_a = hash_b) AS recomputed
FROM j
"""




# --- exact containment self-join ------------------------------------------


def q_containment_join(spark, sf_dir):
    """EXACT asymmetric containment self-join at C(x->y) = |x∩y|/|x| >= 0.8
    over word-3-gram shingles — the quote/excerpt detector symmetric
    Jaccard structurally misses (a 50-word excerpt inside a 1000-word
    article has J ~ 0.05 but containment 1.0; Lee et al's substring-dedup
    motivation, set-ified). Prefix filtering adapts to containment: only
    the PROBE side x prunes to its (sz - ceil(t*sz) + 1) rarest-shingle
    prefix (the candidate side y cannot be pruned — x may sit anywhere
    inside it), so join keys are still rare-token collisions and the
    Zipf-head shingles never fan out; a size guard |y| >= t|x| prunes
    before the distinct. Candidates verify exactly against full sets;
    all threshold math is cross-multiplied integers. Fixture: every
    doc_id%10==0 doc gets an excerpt twin (first half of its words,
    id + 10000000) that must surface with containment 1.0. Same
    per-doc-bounded ranking window discipline as jaccard_join_prefix."""
    tn, td = 4, 5
    base = _spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    ws = _words(F.col("text"))
    exc = (
        base.where(F.col("doc_id") % 10 == 0)
        .withColumn("ws", ws)
        .withColumn("n", F.size("ws"))
        .select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            F.array_join(
                # integer div (matches the oracle's //): DuckDB CAST of a
                # fractional double ROUNDS while Spark truncates, so the
                # half-length must never be fractional in either engine
                F.slice(
                    "ws", F.lit(1),
                    F.greatest(F.lit(7), F.expr("n div 2")).cast("int"),
                ),
                " ",
            ).alias("text"),
        )
    )
    docs = base.unionByName(exc)
    sh = docs.select(
        "doc_id", F.explode(word_ngrams_expr("text", 3)).alias("sh")
    ).distinct()
    dfc = sh.groupBy("sh").agg(F.count("*").alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ranked = (
        sh.join(dfc, "sh")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("sh"))
            ),
        )
        .withColumn("sz", F.count("*").over(Window.partitionBy("doc_id")))
    )
    pref = ranked.filter(
        F.col("rnk") <= F.col("sz") - F.expr(f"({tn}*sz + {tn}) div {td}") + 1
    ).select("doc_id", "sh", "sz")
    y = sh.join(sizes, "doc_id").select(
        F.col("doc_id").alias("dst"), "sh", F.col("sz").alias("szy")
    )
    cand = (
        pref.alias("x")
        .join(y, "sh")
        .filter(F.col("x.doc_id") != F.col("dst"))
        .filter(td * F.col("szy") >= tn * F.col("x.sz"))
        .select(
            F.col("x.doc_id").alias("src"), "dst", F.col("x.sz").alias("szx")
        )
        .distinct()
    )
    inter = (
        cand.join(sh.alias("xa"), cand["src"] == F.col("xa.doc_id"))
        .join(
            sh.alias("yb"),
            (cand["dst"] == F.col("yb.doc_id"))
            & (F.col("xa.sh") == F.col("yb.sh")),
        )
        .groupBy("src", "dst", "szx")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.filter(td * F.col("inter") >= tn * F.col("szx"))
        .select(
            "src",
            "dst",
            F.expr("1000000 * inter div szx").alias("containment_ppm"),
        )
    )


SQL_CONTAINMENT_JOIN = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000,
         array_to_string(
           list_slice(list_filter(string_split(text, ' '), w -> w <> ''),
                      1,
                      CAST(greatest(7,
                        len(list_filter(string_split(text, ' '),
                            w -> w <> '')) // 2) AS INT)),
           ' ')
  FROM documents WHERE doc_id % 10 = 0
), words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM base
), sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
  FROM words, unnest(range(1, greatest(len(ws) - 2, 0) + 1)) AS t(i)
), dfc AS (
  SELECT sh, count(*) AS df FROM sh GROUP BY sh
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), ranked AS (
  SELECT s.doc_id, s.sh,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df ASC, s.sh ASC) AS rnk,
         count(*) OVER (PARTITION BY s.doc_id) AS sz
  FROM sh s JOIN dfc d USING (sh)
), pref AS (
  SELECT doc_id, sh, sz FROM ranked
  WHERE rnk <= sz - ((4*sz + 4) // 5) + 1
), cand AS (
  SELECT DISTINCT x.doc_id AS src, y.doc_id AS dst, x.sz AS szx
  FROM pref x
  JOIN (SELECT s.doc_id, s.sh, z.sz FROM sh s JOIN sizes z USING (doc_id)) y
    USING (sh)
  WHERE x.doc_id <> y.doc_id AND 5*y.sz >= 4*x.sz
), inter AS (
  SELECT c.src, c.dst, c.szx, count(*) AS inter
  FROM cand c
  JOIN sh xa ON xa.doc_id = c.src
  JOIN sh yb ON yb.doc_id = c.dst AND yb.sh = xa.sh
  GROUP BY c.src, c.dst, c.szx
)
SELECT src, dst,
       CAST((1000000 * inter) // szx AS BIGINT) AS containment_ppm
FROM inter WHERE 5*inter >= 4*szx
"""




# --- n-gram novelty scoring -----------------------------------------------


def q_ngram_novelty(spark, sf_dir):
    """Per-doc n-gram novelty: the fraction of a doc's distinct word-3-gram
    shingles whose FIRST corpus occurrence (min doc_id — a deterministic
    total order standing in for crawl arrival order) is this doc. The
    contribution score dedup-aware sampling ranks by: a doc full of
    already-seen shingles adds nothing even if no single pair crosses a
    near-dup threshold. Cost shape = exact span dedup: one gram-keyed
    aggregate (map-side combined, shuffle rows bounded by distinct
    shingles) + one gram join back + one doc-grain aggregate on shrinking
    keys. Integer ppm output."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", F.explode(word_ngrams_expr("text", 3)).alias("sh")
    ).distinct()
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn("novelty_ppm", F.expr("1000000 * n_novel div n_shingles"))
    )


SQL_NGRAM_NOVELTY = r"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
  FROM words, unnest(range(1, greatest(len(ws) - 2, 0) + 1)) AS t(i)
), first AS (
  SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST((1000000 * sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS novelty_ppm
FROM sh JOIN first USING (sh)
GROUP BY doc_id
"""


GATES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "nfc_normalize_audit": (q_nfc_normalize_audit, SQL_NFC_NORMALIZE_AUDIT),
    "soft404_filter": (q_soft404_filter, SQL_SOFT404_FILTER),
    "minhash_band_planner": (q_minhash_band_planner, SQL_MINHASH_BAND_PLANNER),
    "url_latest_snapshot": (q_url_latest_snapshot, SQL_URL_LATEST_SNAPSHOT),
    "lexical_diversity": (q_lexical_diversity, SQL_LEXICAL_DIVERSITY),
    "host_quality_wilson": (q_host_quality_wilson, SQL_HOST_QUALITY_WILSON),
    "crawl_delta": (q_crawl_delta, SQL_CRAWL_DELTA),
    "token_budget_waterfill": (q_token_budget_waterfill, SQL_TOKEN_BUDGET_WATERFILL),
    "width_fold": (q_width_fold, SQL_WIDTH_FOLD),
    "incremental_requalify": (q_incremental_requalify, SQL_INCREMENTAL_REQUALIFY),
    "containment_join": (q_containment_join, SQL_CONTAINMENT_JOIN),
    "ngram_novelty": (q_ngram_novelty, SQL_NGRAM_NOVELTY),
}
